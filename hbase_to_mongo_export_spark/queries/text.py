"""text queries (mechanically split from the original queries.py monolith;
bodies verbatim, shared registry in _core)."""

from ._core import *  # noqa: F401,F403



# dedup_minhash_lsh_pairs / dedup_simhash_pairs are registered further down
# (next to their oracle builders) using the md5-portable hash so every stage
# is value-checked against DuckDB.


@register(
    "text_stats",
    oracle="""
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS n_bpe_tokens,
           ROUND(CASE WHEN len(text) = 0 THEN 0.0
                 ELSE CAST(len(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / len(text) END, 6) AS punct_ratio,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
    FROM documents ORDER BY doc_id
    """,
)
def text_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        tx.bpe_token_estimate(F.col("text")).cast("bigint").alias("n_bpe_tokens"),
        F.round(tx.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        tx.fingerprint(F.col("text")).alias("fp"),
    ).orderBy("doc_id")


@register(
    "text_lang_id",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             [lower(w) FOR w IN (CASE WHEN trim(text) = '' THEN []
                                 ELSE string_split_regex(trim(text), '\\s+') END)] AS words
      FROM documents),
    hits AS (
      SELECT doc_id,
             len(list_filter(words, w -> list_contains(['der','die','und','das','ein'], w))) AS h_de,
             len(list_filter(words, w -> list_contains(['the','and','of','to','a'], w))) AS h_en,
             len(list_filter(words, w -> list_contains(['el','la','de','que','y'], w))) AS h_es,
             len(list_filter(words, w -> list_contains(['le','la','de','et','un'], w))) AS h_fr
      FROM toks)
    SELECT doc_id,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                ELSE 'fr' END AS lang_guess
    FROM hits ORDER BY doc_id
    """,
)
def text_lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", tx.lang_id(F.col("text")).alias("lang_guess")
    ).orderBy("doc_id")


@register(
    "text_quality_score",
    oracle="""
    WITH base AS (
      SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN []
                  ELSE [lower(w) FOR w IN string_split_regex(trim(text), '\\s+')] END AS words
      FROM documents),
    feats AS (
      SELECT doc_id,
             CASE WHEN len(words) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(words, w -> list_contains(['the','and','of','to','a'], w))) AS DOUBLE) / len(words) END AS sw,
             CASE WHEN len(words) = 0 THEN 0.0
                  ELSE CAST(list_sum([CAST(len(w) AS BIGINT) FOR w IN words]) AS DOUBLE) / len(words) END AS mwl,
             CASE WHEN len(text) = 0 THEN 0.0
                  ELSE CAST(len(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / len(text) END AS punct,
             CASE WHEN len(text) = 0 THEN 0.0
                  ELSE CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / len(text) END AS dig
      FROM base)
    SELECT doc_id,
           ROUND(0.4 * least(sw * 4.0, 1.0)
               + 0.4 * (1.0 - least(abs(mwl - 5.0) / 5.0, 1.0))
               + 0.2 * (1.0 - least(punct + dig, 1.0)), 6) AS quality
    FROM feats ORDER BY doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", tx.quality_score(F.col("text")).alias("quality")
    ).orderBy("doc_id")


@register(
    "lexical_diversity_by_lang",
    oracle="""
    WITH tok AS (
      SELECT lang, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS w
      FROM documents WHERE trim(text) <> ''
    )
    SELECT lang,
           COUNT(*) AS total_tokens,
           COUNT(DISTINCT w) AS distinct_tokens,
           ROUND(CAST(COUNT(DISTINCT w) AS DOUBLE) / COUNT(*), 6) AS type_token_ratio
    FROM tok
    GROUP BY lang
    ORDER BY lang
    """,
)
def lexical_diversity_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level type/token ratio per language: explode to one row per
    token, then count + distinct-count per lang. The explode is the
    scale hazard (tokens ~ 200x documents) but each row is (lang, word)
    — two short strings — and countDistinct rewrites to a two-stage
    partial aggregate, so the wide stage shuffles only distinct
    (lang, word) pairs, which is bounded by vocabulary size, not corpus
    size."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(F.trim(F.col("text")) != "")
        .select(
            F.col("lang"),
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.countDistinct("w").alias("distinct_tokens"),
        )
        .withColumn(
            "type_token_ratio",
            F.round(
                F.col("distinct_tokens").cast("double") / F.col("total_tokens"), 6
            ),
        )
        .orderBy("lang")
    )


@register(
    "udtf_bigram_top20",
    oracle="""
    WITH w AS (
      SELECT string_split_regex(lower(trim(text)), '\\s+') AS words
      FROM documents WHERE trim(text) <> ''
    ), b AS (
      SELECT UNNEST([words[i] || ' ' || words[i + 1]
                     FOR i IN range(1, len(words))]) AS bigram
      FROM w
    )
    SELECT bigram, COUNT(*) AS n
    FROM b GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def udtf_bigram_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigrams via a Python UDTF (table function) — the user-facing
    UDTF surface of SURVEY §2.8. CAPABILITY DEMO: a UDTF runs row-at-a-
    time in Python workers; the hot-path formulation of this exact query
    is the codegen explode in word_count_top20 / chunk_dedup. Use a UDTF
    when per-row logic genuinely needs imperative Python AND yields a
    variable number of rows (parsers, tokenizers with state)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="bigram: string")
    class Bigrams:
        def eval(self, text: str):
            words = (text or "").lower().split()
            for a, b in zip(words, words[1:]):
                yield (a + " " + b,)

    spark.udtf.register("bigrams", Bigrams)
    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT b.bigram, COUNT(*) AS n
        FROM _udtf_docs d, LATERAL bigrams(d.text) b
        GROUP BY b.bigram
        ORDER BY n DESC, bigram
        LIMIT 20
        """
    )


@register(
    "unigram_logprob_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS w
      FROM documents WHERE trim(text) <> ''
    ), vocab AS (
      SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w
    ), tot AS (
      SELECT SUM(cnt) AS n FROM vocab
    ), scored AS (
      SELECT t.doc_id,
             AVG(-ln(CAST(v.cnt AS DOUBLE) / (SELECT n FROM tot))) AS nll
      FROM tok t JOIN vocab v ON t.w = v.w
      GROUP BY t.doc_id
    )
    SELECT doc_id, ROUND(nll, 6) AS mean_nll
    FROM scored
    ORDER BY mean_nll DESC, doc_id
    LIMIT 25
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring with a corpus-trained unigram LM:
    pass 1 aggregates corpus word counts (the 'training' job), pass 2
    scores each document by mean negative log-probability of its tokens
    — the standard 'surprising documents' filter when no neural LM is in
    the loop. The vocabulary broadcasts back into the scoring join
    (vocab is bounded, corpus is not), so the fact-side explode never
    shuffles: score = one broadcast-join + one doc_id aggregate."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.filter(F.trim(F.col("text")) != "").select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
    )
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n"))
    vocab_p = vocab.join(F.broadcast(total)).select(
        "w", (-F.log(F.col("cnt").cast("double") / F.col("n"))).alias("nll_w")
    )
    return (
        tok.join(F.broadcast(vocab_p), "w")
        .groupBy("doc_id")
        .agg(F.round(F.avg("nll_w"), 6).alias("mean_nll"))
        .orderBy(F.col("mean_nll").desc(), "doc_id")
        .limit(25)
    )


@register(
    "token_length_histogram",
    oracle="""
    WITH wc AS (
        SELECT doc_id, LEN(string_split(text, ' ')) AS n_tokens
        FROM documents WHERE text IS NOT NULL AND text <> ''
    )
    SELECT CAST(FLOOR(LOG2(n_tokens)) AS INT) AS log2_bin,
           COUNT(*) AS n_docs,
           MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
    FROM wc WHERE n_tokens > 0
    GROUP BY log2_bin ORDER BY log2_bin
    """,
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram in log2 bins — the standard first look at a
    pretraining corpus (sequence-length budget planning). Entirely map-side
    until the tiny per-bin aggregate."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("text") != "")
    )
    wc = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    return (
        wc.groupBy(F.floor(F.log2("n_tokens")).cast("int").alias("log2_bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("log2_bin")
    )


@register(
    "pretokenize_top_tokens",
    oracle="""
    WITH toks AS (
        SELECT UNNEST(regexp_extract_all(LOWER(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS tok
        FROM documents WHERE text IS NOT NULL
    )
    SELECT tok, COUNT(*) AS n
    FROM toks GROUP BY tok
    ORDER BY n DESC, tok LIMIT 20
    """,
)
def pretokenize_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization (runs of letters / digits / single
    punctuation) + global token frequency top-20 — the first step of
    tokenizer training. explode + groupBy with map-side partial agg; at
    100 TB the token vocabulary is tiny relative to the corpus so the
    shuffle is the distinct-token set, not the corpus."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        F.explode(
            F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
        ).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(20)
    )


@register(
    "bigram_lm_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w,
             unnest(range(1, len(string_split_regex(lower(trim(text)), '\\s+')) + 1)) AS pos
      FROM documents WHERE trim(text) <> ''),
    big AS (
      SELECT doc_id, w, w2 FROM (
        SELECT doc_id, w, pos,
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM tok)
      WHERE w2 IS NOT NULL),
    c12 AS (SELECT w, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2),
    c1 AS (SELECT w, COUNT(*) AS c1 FROM tok GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT w) AS v FROM tok),
    scored AS (
      SELECT b.doc_id,
             -ln((CAST(c12.c12 AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
                 (CAST(c1.c1 AS DOUBLE) +
                  CAST(0.5 AS DOUBLE) * CAST((SELECT v FROM v) AS DOUBLE))) AS nll
      FROM big b
      JOIN c12 ON b.w = c12.w AND b.w2 = c12.w2
      JOIN c1 ON b.w = c1.w)
    SELECT doc_id, ROUND(AVG(nll), 6) AS mean_nll, COUNT(*) AS n_bigrams
    FROM scored GROUP BY doc_id
    ORDER BY mean_nll DESC, doc_id
    LIMIT 25
    """,
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-k-smoothed bigram LM quality scoring: train bigram/context
    counts over the corpus (two hash aggregates), then score each doc by
    mean negative log P(w2|w1) with k=0.5 — the next step up from the
    unigram filter, catching locally-incoherent text the unigram model
    scores as fluent. Count tables broadcast into the scoring join
    (bounded vocab); the per-doc window for bigram formation partitions
    by doc_id so state stays bounded at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.filter(F.trim(F.col("text")) != "").select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("pos", "w"),
    )
    w_ = Window.partitionBy("doc_id").orderBy("pos")
    big = tok.withColumn("w2", F.lead("w").over(w_)).filter(
        F.col("w2").isNotNull()
    )
    c12 = big.groupBy("w", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    vsize = tok.select("w").distinct().agg(F.count(F.lit(1)).alias("v"))
    nll = -F.log(
        (F.col("c12").cast("double") + F.lit(0.5))
        / (F.col("c1").cast("double") + F.lit(0.5) * F.col("v").cast("double"))
    )
    return (
        big.join(c12, ["w", "w2"])
        .join(F.broadcast(c1), "w")
        .join(F.broadcast(vsize))
        .withColumn("nll", nll)
        .groupBy("doc_id")
        .agg(
            F.round(F.avg("nll"), 6).alias("mean_nll"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
        .orderBy(F.col("mean_nll").desc(), "doc_id")
        .limit(25)
    )


@register(
    "bpe_merge_candidates",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      FROM documents),
    pairs AS (
      SELECT unnest([substring(w, i, 2) FOR i IN range(1, len(w))]) AS pair
      FROM tok WHERE len(w) >= 2)
    SELECT pair, COUNT(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge-scoring round: corpus-wide adjacent character-pair
    frequencies inside words, top 20 — the aggregate a tokenizer-training
    pipeline computes once per merge. One explode + one hash aggregate
    with map-side partial aggregation; the pair key space is bounded
    (alphabet²), so the shuffle is tiny no matter the corpus size."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = tok.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


@register(
    "truncate_to_token_budget",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE string_split_regex(lower(trim(text)), '\\s+') END AS ws
      FROM documents)
    SELECT doc_id,
           len(ws) AS n_tokens,
           CASE WHEN len(ws) > 64 THEN 64 ELSE len(ws) END AS n_kept,
           CASE WHEN len(ws) > 64 THEN 1 ELSE 0 END AS truncated,
           array_to_string(ws[1:64], ' ') AS truncated_text
    FROM toks
    ORDER BY doc_id
    """,
)
def truncate_to_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document truncation to a 64-token budget — the sequence-length
    cap every training-data pipeline applies before packing. Token split,
    slice, and rejoin are pure narrow array ops (no shuffle, no UDF);
    the rebuilt text is hash-checked so boundary behavior (short docs,
    empty docs, exact-64 docs) is pinned."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.when(
        F.trim(F.col("text")) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    return docs.select(
        "doc_id",
        F.size(ws).alias("n_tokens"),
        F.least(F.size(ws), F.lit(64)).alias("n_kept"),
        F.when(F.size(ws) > 64, 1).otherwise(0).alias("truncated"),
        F.concat_ws(" ", F.slice(ws, 1, 64)).alias("truncated_text"),
    ).orderBy("doc_id")


@register("bm25_search_topk", oracle=_bm25_oracle())
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed 3-term query ('scan hash
    customer'), top-15. Per-term partial scores aggregate as conditional
    maxes and add in a FIXED order (not a float sum over a shuffled
    join), and idf is rounded before use — so the ranking function is
    bit-stable and the whole scorer hash-matches DuckDB. The tf table is
    pre-filtered to the query terms: at scale this is an inverted-index
    probe, not a corpus scan."""
    terms, k1, b, topn = ("scan", "hash", "customer"), 1.2, 0.75, 15
    docs = _t(spark, sf_dir, "documents")
    tok = docs.filter(F.trim(F.col("text")) != "").select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("t"),
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("double").alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    tf = (
        tok.filter(F.col("t").isin(*terms))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.join(F.broadcast(stats)).select(
        "t",
        F.round(
            F.log(
                (
                    F.col("n").cast("double")
                    - F.col("df").cast("double")
                    + F.lit(0.5)
                )
                / (F.col("df").cast("double") + F.lit(0.5))
                + F.lit(1.0)
            ),
            6,
        ).alias("idf"),
    )
    per_term = (
        tf.join(F.broadcast(idf), "t")
        .join(dl, "doc_id")
        .join(F.broadcast(stats.select("avgdl")))
        .select(
            "doc_id",
            "t",
            (
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score"),
        )
    )
    score_cols = [
        F.coalesce(
            F.max(F.when(F.col("t") == t, F.col("score"))), F.lit(0.0)
        ).alias(f"s{i}")
        for i, t in enumerate(terms)
    ]
    scored = per_term.groupBy("doc_id").agg(*score_cols)
    total = sum(
        (F.col(f"s{i}") for i in range(1, len(terms))), F.col("s0")
    )
    return (
        scored.select("doc_id", F.round(total, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(topn)
    )


@register(
    "doc_readability",
    oracle="""
    WITH stats AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words,
             GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_vowel_groups
      FROM documents)
    SELECT doc_id, n_words, n_sentences, n_vowel_groups,
           ROUND(CAST(206.835 AS DOUBLE) -
                 CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) /
                                          CAST(n_sentences AS DOUBLE)) -
                 CAST(84.6 AS DOUBLE) * (CAST(n_vowel_groups AS DOUBLE) /
                                         CAST(GREATEST(n_words, 1) AS DOUBLE)),
                 4) AS flesch_proxy
    FROM stats
    ORDER BY flesch_proxy DESC, doc_id
    LIMIT 25
    """,
)
def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-reading-ease proxy per document: words/sentence and a
    vowel-group syllable proxy, all from regexp counts (integers) pushed
    through the fixed formula once — deterministic, no linguistic
    libraries. The 'too hard / too easy' band is a standard
    training-data quality filter."""
    docs = _t(spark, sf_dir, "documents")
    n_words = F.when(F.trim(F.col("text")) == "", 0).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    n_sent = F.greatest(F.expr("regexp_count(text, '[.!?]+')"), F.lit(1))
    n_vg = F.expr("regexp_count(lower(text), '[aeiouy]+')")
    stats = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_vg.alias("n_vowel_groups"),
    )
    score = F.round(
        F.lit(206.835).cast("double")
        - F.lit(1.015).cast("double")
        * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
        - F.lit(84.6).cast("double")
        * (
            F.col("n_vowel_groups").cast("double")
            / F.greatest(F.col("n_words"), F.lit(1)).cast("double")
        ),
        4,
    )
    return (
        stats.select(
            "doc_id", "n_words", "n_sentences", "n_vowel_groups",
            score.alias("flesch_proxy"),
        )
        .orderBy(F.desc("flesch_proxy"), "doc_id")
        .limit(25)
    )


@register(
    "naive_bayes_lang_score",
    oracle=f"""
    WITH train AS (SELECT * FROM documents WHERE doc_id % 2 = 0 AND trim(text) != ''),
    test  AS (SELECT * FROM documents WHERE doc_id % 2 = 1 AND trim(text) != ''),
    tok_tr AS (SELECT lang, unnest({_NB_WORDS}) AS w FROM train),
    model AS (SELECT lang, w, COUNT(*) AS cnt FROM tok_tr GROUP BY lang, w),
    tot AS (SELECT lang, COUNT(*) AS tot FROM tok_tr GROUP BY lang),
    vocab AS (SELECT COUNT(DISTINCT w) AS v FROM tok_tr),
    prior AS (
      SELECT lang,
             CAST(ROUND(ln(CAST(COUNT(*) AS DOUBLE) /
                           (SELECT COUNT(*) FROM train)), 6) AS DECIMAL(18,6)) AS lp
      FROM train GROUP BY lang),
    tok_te AS (
      SELECT doc_id, lang AS true_lang, w, COUNT(*) AS tf
      FROM (SELECT doc_id, lang, unnest({_NB_WORDS}) AS w FROM test)
      GROUP BY doc_id, lang, w),
    scored AS (
      SELECT t.doc_id, t.true_lang, c.lang AS cand,
             SUM(t.tf * CAST(ROUND(ln(
               CAST(COALESCE(m.cnt, 0) + 1 AS DOUBLE) /
               (c.tot + (SELECT v FROM vocab))), 6) AS DECIMAL(18,6))) AS ll
      FROM tok_te t
      CROSS JOIN tot c
      LEFT JOIN model m ON m.lang = c.lang AND m.w = t.w
      GROUP BY t.doc_id, t.true_lang, c.lang),
    final AS (
      SELECT s.doc_id, s.true_lang, s.cand,
             s.ll + p.lp AS score,
             ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                ORDER BY s.ll + p.lp DESC, s.cand) AS rn
      FROM scored s JOIN prior p ON p.lang = s.cand)
    SELECT doc_id, true_lang, cand AS predicted_lang,
           CAST(score AS DOUBLE) AS score,
           CASE WHEN cand = true_lang THEN 1 ELSE 0 END AS correct
    FROM final WHERE rn = 1
    ORDER BY doc_id
    """,
)
def naive_bayes_lang_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language classifier trained on the even
    doc_ids and scored on the odd ones — Laplace-smoothed unigram
    likelihoods. Every log is rounded to 6 dp then fixed as DECIMAL so the
    per-document sums are exact and order-independent (a raw double sum
    over a shuffled join would drift in the last ulp); the candidate-lang
    join is a 5-row broadcast and the token-model join keys on the word —
    the same inverted-index shape as TF-IDF, linear in corpus tokens."""
    docs = _t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    words = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    tok_tr = train.select("lang", F.explode(words).alias("w"))
    # the (lang, word) model feeds three consumers (scoring join, per-lang
    # totals, vocabulary size); materialize the vocab-sized aggregate once
    # so the corpus token stream is scanned exactly once — the totals then
    # cost O(vocab), not O(corpus tokens), at any scale
    model = op_cache.reuse(
        tok_tr.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = model.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    vocab = model.select("w").distinct().agg(F.count(F.lit(1)).alias("v"))
    n_train = train.agg(F.count(F.lit(1)).alias("n_train"))
    prior = (
        train.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(n_train))
        .select(
            "lang",
            F.round(F.log(F.col("n").cast("double") / F.col("n_train")), 6)
            .cast("decimal(18,6)")
            .alias("lp"),
        )
    )
    tok_te = (
        test.select("doc_id", F.col("lang").alias("true_lang"), F.explode(words).alias("w"))
        .groupBy("doc_id", "true_lang", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    cand = F.broadcast(tot.join(vocab))  # 5 rows x (tot, v)
    scored = (
        tok_te.join(cand)
        .join(
            model.select(F.col("lang").alias("cand"), F.col("w").alias("mw"), "cnt"),
            (F.col("lang") == F.col("cand")) & (F.col("w") == F.col("mw")),
            "left",
        )
        .select(
            "doc_id",
            "true_lang",
            F.col("lang").alias("cand_lang"),
            (
                F.col("tf")
                * F.round(
                    F.log(
                        (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                        / (F.col("tot") + F.col("v"))
                    ),
                    6,
                ).cast("decimal(18,6)")
            ).alias("term"),
        )
        .groupBy("doc_id", "true_lang", "cand_lang")
        .agg(F.sum("term").alias("ll"))
    )
    wv = Window.partitionBy("doc_id").orderBy(F.desc("score_d"), "cand_lang")
    return (
        scored.join(
            F.broadcast(prior.select(F.col("lang").alias("cand_lang"), "lp")),
            "cand_lang",
        )
        .withColumn("score_d", F.col("ll") + F.col("lp"))
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "true_lang",
            F.col("cand_lang").alias("predicted_lang"),
            F.col("score_d").cast("double").alias("score"),
            F.when(F.col("cand_lang") == F.col("true_lang"), 1).otherwise(0).alias("correct"),
        )
        .orderBy("doc_id")
    )


@register(
    "token_sliding_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_NB_WORDS} AS ws FROM documents
      WHERE doc_id < 10 AND trim(text) != ''),
    wins AS (
      SELECT doc_id, unnest(range(0, len(ws) - 31, 16)) AS start_pos, ws
      FROM toks WHERE len(ws) >= 32)
    SELECT doc_id,
           CAST(start_pos / 16 AS INT) AS win_id,
           CAST(start_pos AS INT) AS start_pos,
           ws[start_pos + 1] AS first_token,
           ws[start_pos + 32] AS last_token
    FROM wins
    ORDER BY doc_id, win_id
    """,
)
def token_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size (32-token) training windows with stride 16 — the standard
    context-window chunking for LM pretraining, materialized per window with
    first/last token as content witnesses. sequence() + explode generates
    window starts without any join; per-document work is linear in tokens
    and embarrassingly parallel."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 10) & (F.trim(F.col("text")) != "")
    )
    ws = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    d = docs.select("doc_id", ws.alias("ws")).filter(F.size("ws") >= 32)
    wins = d.select(
        "doc_id",
        "ws",
        F.explode(F.sequence(F.lit(0), F.size("ws") - 32, F.lit(16))).alias("start_pos"),
    )
    return wins.select(
        "doc_id",
        (F.col("start_pos") / 16).cast("int").alias("win_id"),
        F.col("start_pos").cast("int").alias("start_pos"),
        F.element_at("ws", F.col("start_pos") + 1).alias("first_token"),
        F.element_at("ws", F.col("start_pos") + 32).alias("last_token"),
    ).orderBy("doc_id", "win_id")


@register(
    "vocab_coverage_curve",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_NB_WORDS}) AS w FROM documents WHERE trim(text) != ''),
    freq AS (SELECT w, COUNT(*) AS f FROM tok GROUP BY w),
    ranked AS (
      SELECT w, f,
             ROW_NUMBER() OVER (ORDER BY f DESC, w) AS rn,
             SUM(f) OVER (ORDER BY f DESC, w
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM freq)
    SELECT CAST(rn AS INT) AS vocab_size,
           ROUND(CAST(cum AS DOUBLE) / (SELECT COUNT(*) FROM tok), 6) AS coverage
    FROM ranked WHERE rn IN (5, 10, 20, 30)
    ORDER BY vocab_size
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-coverage curve for tokenizer/vocab sizing: what fraction of
    all token occurrences the top-k vocabulary covers, at k ∈ {5,10,20,30}.
    One token-frequency aggregate plus a single-partition window over the
    (tiny) vocabulary table — the frequency table, not the corpus, flows
    into the window, so corpus scale only affects the first aggregate."""
    docs = _t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    ws = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    tok = docs.select(F.explode(ws).alias("w"))
    total = tok.agg(F.count(F.lit(1)).alias("total"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    wr = Window.orderBy(F.desc("f"), "w")
    ranked = freq.select(
        "w",
        "f",
        F.row_number().over(wr).alias("rn"),
        F.sum("f").over(wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum"),
    )
    return (
        ranked.filter(F.col("rn").isin(5, 10, 20, 30))
        .join(F.broadcast(total))
        .select(
            F.col("rn").cast("int").alias("vocab_size"),
            F.round(F.col("cum").cast("double") / F.col("total"), 6).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


@register(
    "bigram_pmi_collocations",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, {_NB_WORDS} AS ws FROM documents WHERE trim(text) != ''),
    uni AS (
      SELECT w, COUNT(*) AS c FROM (SELECT unnest(ws) AS w FROM words) GROUP BY w),
    n_uni AS (SELECT SUM(c) AS nu FROM uni),
    bi AS (
      SELECT ws[i] AS x, ws[i + 1] AS y, COUNT(*) AS cxy
      FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM words WHERE len(ws) >= 2)
      GROUP BY ws[i], ws[i + 1]),
    n_bi AS (SELECT SUM(cxy) AS nb FROM bi)
    SELECT x, y, CAST(cxy AS BIGINT) AS cxy,
           ROUND(ln(((CAST(cxy AS DOUBLE) * nu) * nu) /
                    ((CAST(nb AS DOUBLE) * cx.c) * cy.c)), 6) AS pmi
    FROM bi, n_uni, n_bi
    JOIN uni cx ON cx.w = x
    JOIN uni cy ON cy.w = y
    WHERE cxy >= 10
    ORDER BY pmi DESC, x, y
    LIMIT 20
    """,
)
def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining over adjacent word
    pairs — the classic phrase detector for tokenizer/vocab construction.
    PMI = ln(p(xy) / (p(x)p(y))) with the ratio assembled left-to-right in
    one double expression identical on both engines, then rounded. Unigram
    totals broadcast (2 scalar rows); the bigram aggregate is the only
    corpus-scale shuffle."""
    docs = _t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    ws = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    words = docs.select(ws.alias("ws"))
    uni = (
        words.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_uni = uni.agg(F.sum("c").alias("nu"))
    bigrams = words.filter(F.size("ws") >= 2).select(
        F.explode(
            F.transform(
                F.slice(F.col("ws"), 1, F.size("ws") - 1),
                lambda w, i: F.struct(
                    w.alias("x"), F.element_at(F.col("ws"), i + 2).alias("y")
                ),
            )
        ).alias("p")
    )
    bi = bigrams.groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y")).agg(
        F.count(F.lit(1)).alias("cxy")
    )
    n_bi = bi.agg(F.sum("cxy").alias("nb"))
    cx = uni.select(F.col("w").alias("x"), F.col("c").alias("cx_c"))
    cy = uni.select(F.col("w").alias("y"), F.col("c").alias("cy_c"))
    return (
        bi.filter(F.col("cxy") >= 10)
        .join(F.broadcast(n_uni))
        .join(F.broadcast(n_bi))
        .join(cx, "x")
        .join(cy, "y")
        .select(
            "x",
            "y",
            F.col("cxy").cast("bigint").alias("cxy"),
            F.round(
                F.log(
                    ((F.col("cxy").cast("double") * F.col("nu")) * F.col("nu"))
                    / ((F.col("nb").cast("double") * F.col("cx_c")) * F.col("cy_c"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "x", "y")
        .limit(20)
    )


@register(
    "lang_id_confusion_matrix",
    oracle=_LANG_HITS_SQL + """
    SELECT true_lang, pred_lang, COUNT(*) AS n
    FROM pred GROUP BY true_lang, pred_lang
    ORDER BY true_lang, pred_lang
    """,
)
def lang_id_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation harness for the n-gram language identifier: confusion
    matrix of predicted vs labeled language over the corpus. One narrow
    pass + a tiny (langs²) aggregate — the quality readout you run before
    trusting lang-id as a 100 TB routing key."""
    docs = _t(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("true_lang"),
        tx.lang_id(F.col("text")).alias("pred_lang"),
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


@register(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_ws,
             len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS n_bpe
      FROM documents)
    SELECT lang,
           CAST(SUM(n_ws) AS BIGINT) AS whitespace_tokens,
           CAST(SUM(n_bpe) AS BIGINT) AS subword_tokens,
           ROUND(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 6) AS fertility
    FROM t WHERE n_ws > 0
    GROUP BY lang ORDER BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (subword tokens per whitespace word) per
    language — the compression readout that drives per-language token
    budgets in a multilingual training mix. Pure built-in expressions;
    single narrow pass + langs-sized aggregate."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        tx.token_count(F.col("text")).alias("n_ws"),
        tx.bpe_token_estimate(F.col("text")).alias("n_bpe"),
    ).filter(F.col("n_ws") > 0)
    return (
        t.groupBy("lang")
        .agg(
            F.sum("n_ws").cast("bigint").alias("whitespace_tokens"),
            F.sum("n_bpe").cast("bigint").alias("subword_tokens"),
            F.round(
                F.sum("n_bpe").cast("double") / F.sum("n_ws"), 6
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


@register(
    "arrow_text_byte_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
           ROUND(CAST(SUM(strlen(text)) AS DOUBLE) / SUM(length(text)), 6)
             AS bytes_per_char
    FROM documents WHERE length(text) > 0
    GROUP BY lang ORDER BY lang
    """,
)
def arrow_text_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native UDF surface (mapInArrow): UTF-8 char vs byte counts
    per language via pyarrow.compute kernels on the raw record batches —
    no pandas materialization, the cheapest Python path for byte-level
    columnar work. bytes_per_char > 1 flags multi-byte scripts, the input
    to byte-budgeted tokenizer planning."""
    from ..operators import grouped as grouped_mod

    docs = _t(spark, sf_dir, "documents")
    per_row = grouped_mod.arrow_text_bytes(docs)
    return (
        per_row.filter(F.col("n_chars") > 0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            F.round(
                F.sum("n_bytes").cast("double") / F.sum("n_chars"), 6
            ).alias("bytes_per_char"),
        )
        .orderBy("lang")
    )


@register(
    "repeated_ngram_loop_detection",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, {_NB_WORDS} AS ws FROM documents WHERE trim(text) != ''),
    grams AS (
      SELECT doc_id,
             unnest(range(1, len(ws) - 2)) AS pos,
             [list_aggregate(ws[i:i+3], 'string_agg', ' ')
              FOR i IN range(1, len(ws) - 2)] AS gs
      FROM words WHERE len(ws) >= 5),
    flat AS (SELECT doc_id, pos, gs[pos] AS g FROM grams),
    rep AS (
      SELECT a.doc_id, MIN(b.pos) AS first_repeat_pos
      FROM flat a JOIN flat b
        ON a.doc_id = b.doc_id AND a.g = b.g AND a.pos < b.pos
      GROUP BY a.doc_id)
    SELECT w.doc_id,
           CAST(len(w.ws) AS INT) AS n_tokens,
           CAST(r.first_repeat_pos AS INT) AS first_repeat_pos,
           CASE WHEN r.first_repeat_pos IS NOT NULL THEN 1 ELSE 0 END AS has_loop
    FROM words w LEFT JOIN rep r USING (doc_id)
    ORDER BY w.doc_id
    """,
)
def repeated_ngram_loop_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generation-loop detector: the first position where a 4-gram repeats
    verbatim inside a document — the truncation point for model-generated
    or boilerplate-looped text (the n-gram analogue of no-repeat-ngram
    decoding checks). Per-document inverted self-join on the gram, cost
    bounded by within-doc gram multiplicity, never cross-document."""
    docs = _t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    ws = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    words = docs.select("doc_id", ws.alias("ws"))
    grams = (
        words.filter(F.size("ws") >= 5)
        .select(
            "doc_id",
            F.posexplode(dedup_mod.word_ngrams(F.concat_ws(" ", "ws"), 4)).alias(
                "pos0", "g"
            ),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
    )
    rep = (
        grams.alias("a")
        .join(
            grams.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.g") == F.col("b.g"))
            & (F.col("a.pos") < F.col("b.pos")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"))
        .agg(F.min(F.col("b.pos")).alias("first_repeat_pos"))
    )
    return (
        words.join(rep, "doc_id", "left")
        .select(
            "doc_id",
            F.size("ws").cast("int").alias("n_tokens"),
            F.col("first_repeat_pos").cast("int").alias("first_repeat_pos"),
            F.when(F.col("first_repeat_pos").isNotNull(), 1)
            .otherwise(0)
            .alias("has_loop"),
        )
        .orderBy("doc_id")
    )


@register(
    "js_divergence_lang_unigrams",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest({_NB_WORDS}) AS w
      FROM documents WHERE trim(text) != ''),
    cnt AS (SELECT lang, w, COUNT(*) AS c FROM tok GROUP BY lang, w),
    tot AS (SELECT lang, SUM(c) AS t FROM cnt GROUP BY lang),
    langs AS (SELECT DISTINCT lang FROM cnt),
    lp AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b
      FROM langs a JOIN langs b ON a.lang < b.lang),
    vocab AS (
      SELECT lp.lang_a, lp.lang_b, c.w,
             SUM(CASE WHEN c.lang = lp.lang_a THEN c.c ELSE 0 END) AS ca,
             SUM(CASE WHEN c.lang = lp.lang_b THEN c.c ELSE 0 END) AS cb
      FROM lp JOIN cnt c ON c.lang IN (lp.lang_a, lp.lang_b)
      GROUP BY lp.lang_a, lp.lang_b, c.w),
    withtot AS (
      SELECT v.lang_a, v.lang_b, v.w, v.ca, v.cb, ta.t AS ta, tb.t AS tb
      FROM vocab v
      JOIN tot ta ON ta.lang = v.lang_a
      JOIN tot tb ON tb.lang = v.lang_b),
    terms AS (
      SELECT lang_a, lang_b,
             CAST(ROUND(
               CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / ta) *
                 ln((CAST(ca AS DOUBLE) / ta) /
                    ((CAST(ca AS DOUBLE) / ta + CAST(cb AS DOUBLE) / tb) / 2))
               ELSE 0 END +
               CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / tb) *
                 ln((CAST(cb AS DOUBLE) / tb) /
                    ((CAST(ca AS DOUBLE) / ta + CAST(cb AS DOUBLE) / tb) / 2))
               ELSE 0 END, 9) AS DECIMAL(18,9)) AS term
      FROM withtot)
    SELECT lang_a, lang_b,
           CAST(ROUND(SUM(term) / 2, 6) AS DOUBLE) AS js_divergence
    FROM terms GROUP BY lang_a, lang_b
    ORDER BY lang_a, lang_b
    """,
)
def js_divergence_lang_unigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every pair of language unigram
    distributions — the mixture-design metric for how separable corpus
    slices are (0 = identical, ln 2 = disjoint). Per-word contributions
    are rounded then decimal-fixed before summing (sum order across the
    shared vocabulary must not move the result); the ln ratios are
    assembled identically on both engines."""
    docs = _t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    ws = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    # vocab-sized count table feeds three consumers (pair join, totals,
    # lang list) — materialize once so the corpus tokenizes exactly once
    cnt = op_cache.reuse(
        docs.select("lang", F.explode(ws).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("lang").agg(F.sum("c").alias("t"))
    langs = cnt.select("lang").distinct()
    lp = (
        langs.alias("a")
        .join(langs.alias("b"), F.col("a.lang") < F.col("b.lang"))
        .select(F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b"))
    )
    vocab = (
        lp.join(
            cnt,
            (F.col("lang") == F.col("lang_a")) | (F.col("lang") == F.col("lang_b")),
        )
        .groupBy("lang_a", "lang_b", "w")
        .agg(
            F.sum(F.when(F.col("lang") == F.col("lang_a"), F.col("c")).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("lang") == F.col("lang_b"), F.col("c")).otherwise(0)).alias("cb"),
        )
    )
    ta = F.broadcast(tot.select(F.col("lang").alias("lang_a"), F.col("t").alias("ta")))
    tb = F.broadcast(tot.select(F.col("lang").alias("lang_b"), F.col("t").alias("tb")))
    withtot = vocab.join(ta, "lang_a").join(tb, "lang_b")
    pa = F.col("ca").cast("double") / F.col("ta")
    pb = F.col("cb").cast("double") / F.col("tb")
    m = (pa + pb) / 2
    term = (
        F.when(F.col("ca") > 0, pa * F.log(pa / m)).otherwise(F.lit(0.0))
        + F.when(F.col("cb") > 0, pb * F.log(pb / m)).otherwise(F.lit(0.0))
    )
    terms = withtot.select(
        "lang_a", "lang_b", F.round(term, 9).cast("decimal(18,9)").alias("term")
    )
    return (
        terms.groupBy("lang_a", "lang_b")
        .agg(F.round(F.sum("term") / 2, 6).cast("double").alias("js_divergence"))
        .orderBy("lang_a", "lang_b")
    )


# ---------------------------------------------------------------------------
# Corpus statistics + linear algebra (round 2): Zipf rank-frequency fit,
# Heaps' vocabulary growth, the dominant principal component by power
# iteration, SQL-defined UDFs, and outer-generator semantics.
# ---------------------------------------------------------------------------


@register(
    "zipf_slope_fit",
    oracle="""
    WITH wc AS (
      SELECT w, COUNT(*) AS n
      FROM (SELECT unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
            FROM documents) t
      WHERE w <> '' GROUP BY w),
    ranked AS (
      SELECT w, n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS r
      FROM wc),
    arrs AS (
      SELECT list(ln(CAST(r AS DOUBLE)) ORDER BY r) AS lx,
             list(ln(CAST(n AS DOUBLE)) ORDER BY r) AS ly
      FROM ranked WHERE r <= 200),
    sums AS (
      SELECT CAST(len(lx) AS DOUBLE) AS m,
             list_reduce(lx, (a, b) -> a + b) AS sx,
             list_reduce(ly, (a, b) -> a + b) AS sy,
             list_reduce([lx[i] * lx[i] FOR i IN range(1, len(lx) + 1)],
                         (a, b) -> a + b) AS sxx,
             list_reduce([lx[i] * ly[i] FOR i IN range(1, len(lx) + 1)],
                         (a, b) -> a + b) AS sxy
      FROM arrs)
    SELECT CAST(m AS BIGINT) AS n_ranks,
           ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS zipf_slope
    FROM sums
    """,
)
def zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent: OLS slope of ln(freq) on ln(rank) over the
    top-200 words — the one-number sanity check that a corpus has
    natural-language-like frequency structure (slope ~ -1). Float sums
    over groups are engine-order-dependent, so the log terms are packed
    into a RANK-ORDERED array and folded left-to-right (Spark
    ``aggregate`` and DuckDB ``list_reduce`` both fold left-to-right and
    match bit-for-bit) — the registry's standard fix for determinism of
    float reductions. The count table is corpus-scale; the array is 200
    elements on one row."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("w")
    ).filter(F.col("w") != "")
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    # top-200 via orderBy+limit (TakeOrdered, a per-partition heap +
    # driver merge) — NOT a global row_number window, which would funnel
    # the whole vocabulary through one partition; ranks are then a
    # window over just the 200 survivors
    top = wc.orderBy(F.desc("n"), "w").limit(200)
    wr = Window.orderBy(F.desc("n"), "w")
    ranked = top.withColumn("r", F.row_number().over(wr))
    arrs = ranked.agg(
        F.sort_array(
            F.collect_list(F.struct("r", "n"))
        ).alias("rn")
    ).select(
        F.expr("transform(rn, s -> ln(CAST(s.r AS DOUBLE)))").alias("lx"),
        F.expr("transform(rn, s -> ln(CAST(s.n AS DOUBLE)))").alias("ly"),
    )
    sums = arrs.select(
        F.size("lx").cast("double").alias("m"),
        F.expr("aggregate(lx, CAST(0 AS DOUBLE), (a, b) -> a + b)").alias("sx"),
        F.expr("aggregate(ly, CAST(0 AS DOUBLE), (a, b) -> a + b)").alias("sy"),
        F.expr(
            "aggregate(zip_with(lx, lx, (p, q) -> p * q), CAST(0 AS DOUBLE), (a, b) -> a + b)"
        ).alias("sxx"),
        F.expr(
            "aggregate(zip_with(lx, ly, (p, q) -> p * q), CAST(0 AS DOUBLE), (a, b) -> a + b)"
        ).alias("sxy"),
    )
    return sums.select(
        F.col("m").cast("bigint").alias("n_ranks"),
        F.round(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
    )


@register("heaps_law_vocab_growth", oracle=_heaps_oracle())
def heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: distinct-word count at 25/50/75/100%
    corpus prefixes (by doc_id), with the log-log exponent estimate
    beta = ln(V)/ln(N) per prefix — the curve that predicts how much new
    vocabulary another 10x of data buys, which is exactly the question a
    tokenizer-sizing pass asks before training. One explode feeds four
    conditional aggregates (integers; the exponent is a scalar ln ratio,
    deterministic); at 100 TB this is one corpus scan, not four."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    wd = docs.select(
        "doc_id",
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("w"),
    )
    outs = []
    for q in (1, 2, 3, 4):
        pref = wd.filter(F.col("doc_id") * 4 < n_docs * q)
        outs.append(
            pref.agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.count(F.lit(1)).alias("n_tokens"),
                F.countDistinct("w").alias("n_vocab"),
            ).select(
                F.lit(q).cast("int").alias("quartile"),
                "n_docs",
                "n_tokens",
                "n_vocab",
                F.round(
                    F.log(F.col("n_vocab").cast("double"))
                    / F.log(F.col("n_tokens").cast("double")),
                    6,
                ).alias("heaps_beta"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("quartile")


@register("bpe_apply_merges", oracle=_bpe_oracle())
def bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer INFERENCE: apply a 3-rule BPE merge table (t+h -> th,
    th+e -> the, e+r -> er) to the corpus vocabulary by the greedy
    left-to-right pair-merge fold — one array-accumulator ``aggregate``
    per merge rule, run over the DISTINCT-word table (BPE tokenizes the
    vocab, and corpus token counts come back via the word counts), which
    is the decisive scale move: the fold runs once per unique word, not
    once per corpus occurrence. Returns the top-20 resulting subword
    tokens. Both engines fold left-to-right, so the merged token streams
    are identical — including the overlap rule (a fresh merge output can
    immediately pair with the next character)."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("w")
    ).filter(F.col("w") != "")
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    expr = "split(w, '')"
    for a, b, ab in _BPE_MERGES:
        expr = _bpe_fold_spark(expr, a, b, ab)
    toks = wc.select(F.explode(F.expr(expr)).alias("token"), "n")
    return (
        toks.groupBy("token")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


@register(
    "rake_keyphrases",
    oracle="""
    WITH pos AS (
      SELECT doc_id, unnest(words) AS w,
             unnest(range(1, len(words) + 1)) AS i
      FROM (SELECT doc_id,
                   string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS words
            FROM documents)),
    marked AS (
      SELECT doc_id, w, i,
             CASE WHEN w IN ('the', 'a') THEN 1 ELSE 0 END AS stop,
             SUM(CASE WHEN w IN ('the', 'a') THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
      FROM pos WHERE w <> ''),
    members AS (SELECT doc_id, pid, w, i FROM marked WHERE stop = 0),
    plen AS (
      SELECT doc_id, pid, COUNT(*) AS n_words
      FROM members GROUP BY doc_id, pid),
    wstats AS (
      SELECT m.w,
             COUNT(*) AS freq,
             SUM(p.n_words) AS deg
      FROM members m JOIN plen p ON p.doc_id = m.doc_id AND p.pid = m.pid
      GROUP BY m.w),
    wscore AS (
      SELECT w, (deg * 1000000) // freq AS score_fp FROM wstats),
    phrases AS (
      SELECT m.doc_id, m.pid,
             list_aggregate(list(m.w ORDER BY m.i), 'string_agg', ' ') AS phrase,
             SUM(s.score_fp) AS pscore_fp,
             COUNT(*) AS n_words
      FROM members m JOIN wscore s ON s.w = m.w
      GROUP BY m.doc_id, m.pid),
    dedup AS (
      SELECT DISTINCT phrase, pscore_fp, n_words
      FROM phrases WHERE n_words BETWEEN 2 AND 4)
    SELECT phrase, CAST(n_words AS BIGINT) AS n_words,
           ROUND(CAST(pscore_fp AS DOUBLE) / 1000000, 4) AS rake_score
    FROM dedup
    ORDER BY pscore_fp DESC, phrase
    LIMIT 15
    """,
)
def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction: stopword-delimited candidate phrases
    (gaps-and-islands over word positions), word scores deg/freq in
    FIXED-POINT integer arithmetic ((deg*1e6) div freq — positive
    integer division floors identically in both engines, and the
    per-phrase score sums stay exact BIGINTs), phrase score = sum of
    member scores, top-15 2-4-word phrases. One explode + two
    aggregates + one window; the phrase table is corpus-scale but
    the word-score table is vocabulary-scale."""
    docs = _t(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("i0", "w"),
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "w").filter(
        F.col("w") != ""
    )
    stop = F.col("w").isin("the", "a").cast("int")
    wcum = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = pos.select(
        "doc_id", "w", "i", stop.alias("stop"), F.sum(stop).over(wcum).alias("pid")
    )
    members = marked.filter(F.col("stop") == 0).select("doc_id", "pid", "w", "i")
    # phrase length as a window over the member stream: the old
    # groupBy(doc_id,pid)+join-back shape recomputed the whole
    # explode+cumsum chain a second time AND paid an extra join exchange
    # (guide §2.4 — a window keyed like the aggregation shares one
    # partitioning); count over the phrase partition is the same value
    wplen = Window.partitionBy("doc_id", "pid")
    wstats = (
        members.withColumn("n_words", F.count(F.lit(1)).over(wplen))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("n_words").alias("deg"))
    )
    wscore = wstats.select(
        "w", F.expr("(deg * 1000000) div freq").alias("score_fp")
    )
    phrases = (
        members.join(wscore, "w")
        .groupBy("doc_id", "pid")
        .agg(
            F.expr(
                "array_join(transform(sort_array(collect_list(struct(i, w))), s -> s.w), ' ')"
            ).alias("phrase"),
            F.sum("score_fp").alias("pscore_fp"),
            F.count(F.lit(1)).alias("n_words"),
        )
    )
    dedup = (
        phrases.filter(F.col("n_words").between(2, 4))
        .select("phrase", "pscore_fp", "n_words")
        .distinct()
    )
    return (
        dedup.orderBy(F.desc("pscore_fp"), "phrase")
        .limit(15)
        .select(
            "phrase",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.round(F.col("pscore_fp").cast("double") / 1000000, 4).alias(
                "rake_score"
            ),
        )
    )


@register(
    "ngram_novelty_by_source",
    oracle="""
    WITH grams AS (
      SELECT doc_id, source,
             list_aggregate(ws[i:i+2], 'string_agg', ' ') AS g
      FROM (SELECT doc_id, source,
                   string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
            FROM documents),
           UNNEST(range(1, len(ws) - 1)) AS t(i)),
    firstseen AS (
      SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
    scored AS (
      SELECT gr.doc_id, gr.source,
             CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END AS novel
      FROM grams gr JOIN firstseen f ON f.g = gr.g)
    SELECT source,
           COUNT(*) AS n_grams,
           CAST(SUM(novel) AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(novel) AS DOUBLE) / COUNT(*), 6) AS novelty_ratio
    FROM scored
    GROUP BY source
    ORDER BY source
    """,
)
def ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl value metric: the fraction of each source's
    3-grams that are NOVEL (first occurrence in doc_id order, the
    ingestion-order proxy) — falling novelty is the signal to stop
    crawling a source. One shingle explode + a min-per-gram aggregate
    joined back on the gram key; at 100 TB the first-seen table is the
    dedup index you already maintain, so this metric is nearly free."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "source",
        F.split(
            F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
        ).alias("ws"),
    )
    grams = words.select(
        "doc_id", "source",
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 3 THEN transform(sequence(1, size(ws) - 2), "
                "i -> array_join(slice(ws, i, 3), ' ')) "
                "ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("g"),
    )
    firstseen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    scored = grams.join(firstseen, "g").select(
        "source",
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0).alias("novel"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("novel").cast("bigint").alias("n_novel"),
            F.round(
                F.sum("novel").cast("double") / F.count(F.lit(1)), 6
            ).alias("novelty_ratio"),
        )
        .orderBy("source")
    )


@register("bpe_detokenize_roundtrip", oracle=_bpe_detok_oracle())
def bpe_detokenize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer LOSSLESSNESS: every vocabulary word tokenized by the
    BPE merge table must detokenize (token concatenation) back to itself
    — n_lossless must equal n_words, and the oracle checks the same
    property in DuckDB. This is the invariant that makes BPE usable for
    training data at all; a merge-application bug (dropped char, wrong
    overlap handling) breaks it immediately."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("w")
    ).filter(F.col("w") != "").distinct()
    expr = "split(w, '')"
    for a, b, ab in _BPE_MERGES:
        expr = _bpe_fold_spark(expr, a, b, ab)
    rt = words.select("w", F.expr(f"array_join({expr}, '')").alias("detok"))
    return rt.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.when(F.col("detok") == F.col("w"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_lossless"),
    )


@register("bpe_train_3rounds", oracle=_bpe_train_oracle())
def bpe_train_3rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE TRAINING loop itself, three full rounds: count adjacent
    symbol pairs over the weighted vocabulary, pick the argmax (ties
    break count-desc then pair-asc), apply the merge with the canonical
    left-to-right fold, recount. The driver sees exactly one argmax row
    per round (how real distributed BPE trainers work — the corpus-scale
    pair count is a hash aggregate, only the winner is collected); the
    fold runs as a higher-order aggregate expression, never a Python
    UDF. The oracle replays all three rounds with the same tiebreaks
    and the same fold semantics (verified identical left-to-right
    non-overlapping merge in both engines)."""
    docs = _t(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
        )
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    state = vocab.select(
        "w", "freq", F.concat_ws("|", F.split("w", "")).alias("acc")
    )
    state = op_cache.checkpoint(state)
    rows = []
    for rnd in (1, 2, 3):
        pairs = (
            state.select("freq", F.split("acc", r"\|").alias("syms"))
            .filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2), "
                        "i -> struct(syms[i] AS a, syms[i + 1] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("n"))
        )
        top = pairs.orderBy(F.desc("n"), "a", "b").limit(1).collect()[0]
        a, b, n = top["a"], top["b"], int(top["n"])
        fold = (
            "aggregate(slice(split(acc,'\\\\|'), 2, size(split(acc,'\\\\|')) - 1), "
            "element_at(split(acc,'\\\\|'), 1), "
            "(acc2, s) -> CASE "
            f"WHEN (acc2 = '{a}' OR acc2 like concat('%|', '{a}')) "
            f"AND s = '{b}' "
            f"THEN concat(substr(acc2, 1, length(acc2) - {len(a)}), '{a}{b}') "
            "ELSE concat(acc2, '|', s) END)"
        )
        # the corpus-symbols total rides the merged state's checkpoint
        # pass as an Observation metric — one pass over the vocab frame
        # both persists the round's state and produces the total, where
        # the old shape paid a separate aggregate job per round
        from pyspark.sql import Observation

        obs = Observation()
        nxt = op_cache.checkpoint(
            state.select("w", "freq", F.expr(fold).alias("acc")).observe(
                obs,
                F.sum(F.col("freq") * F.size(F.split("acc", r"\|"))).alias("t"),
            )
        )
        op_cache.release(state)
        state = nxt
        tot = obs.get["t"]
        rows.append((rnd, a, b, a + b, n, int(tot)))
    return spark.createDataFrame(
        rows,
        "round int, sym_a string, sym_b string, merged string, "
        "pair_count bigint, corpus_symbols_after bigint",
    ).orderBy("round")


@register(
    "bm25_mrr_eval",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
      FROM documents WHERE trim(text) <> ''),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl
           FROM tok GROUP BY doc_id),
    stats AS (
      SELECT CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
             CAST(COUNT(*) AS BIGINT) AS n FROM dl),
    probes AS (SELECT DISTINCT doc_id AS qid FROM tok WHERE doc_id % 50 = 0),
    qterms AS (
      SELECT qid, t FROM (
        SELECT tok.doc_id AS qid, t,
               ROW_NUMBER() OVER (PARTITION BY tok.doc_id
                                  ORDER BY COUNT(*) DESC, t) AS rk
        FROM tok JOIN probes ON probes.qid = tok.doc_id
        GROUP BY tok.doc_id, t) WHERE rk <= 3),
    tfq AS (
      SELECT t, doc_id, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok
      WHERE t IN (SELECT DISTINCT t FROM qterms) GROUP BY t, doc_id),
    dfreq AS (SELECT t, COUNT(*) AS df FROM tfq GROUP BY t),
    idf AS (
      SELECT t, ROUND(ln((CAST((SELECT n FROM stats) AS DOUBLE) -
                          CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
                         (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) +
                         CAST(1 AS DOUBLE)), 6) AS idf
      FROM dfreq),
    terms_scored AS (
      SELECT q.qid, f.doc_id, f.t,
             i.idf * (f.tf * CAST(2.2 AS DOUBLE)) /
               (f.tf + CAST(1.2 AS DOUBLE) *
                (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
                 d.dl / (SELECT avgdl FROM stats))) AS s
      FROM qterms q
      JOIN tfq f ON f.t = q.t
      JOIN dl d ON d.doc_id = f.doc_id
      JOIN idf i ON i.t = q.t),
    scored AS (
      SELECT qid, doc_id,
             list_reduce(list(s ORDER BY t), (a, b) -> a + b) AS score
      FROM terms_scored GROUP BY qid, doc_id),
    ranked AS (
      SELECT qid, doc_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rnk
      FROM scored),
    hits AS (
      SELECT p.qid,
             MAX(CASE WHEN r.doc_id = p.qid AND r.rnk <= 10
                      THEN 2520 // r.rnk ELSE 0 END) AS rr2520
      FROM probes p LEFT JOIN ranked r ON r.qid = p.qid
      GROUP BY p.qid)
    SELECT COUNT(*) AS n_queries,
           CAST(SUM(CASE WHEN rr2520 > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_found_top10,
           CAST(SUM(rr2520) AS BIGINT) AS mrr_x2520,
           ROUND(CAST(SUM(rr2520) AS DOUBLE) /
                 (CAST(2520 AS DOUBLE) * COUNT(*)), 6) AS mrr_at10
    FROM hits
    """,
)
def bm25_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation harness: every 50th document becomes
    a query (its own top-3 terms), BM25 ranks the corpus per query
    through the inverted index, and MRR@10 measures whether the source
    document comes back — the pseudo-relevance self-retrieval check run
    before shipping any ranker change. Float traps handled exactly:
    per-document scores fold term-ascending (identical left-to-right
    sum both engines), and MRR accumulates as integer 2520/rank
    (lcm of 1..10) so the only float division happens once at the end.
    At 100 TB the probe set is a fixed sample and every join is
    term-selective postings — no all-pairs stage."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.filter(F.trim("text") != "").select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("t"),
    )
    tok = op_cache.reuse(tok)
    dl = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dl")
    )
    dl = op_cache.reuse(dl)
    stats = dl.agg(
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).collect()[0]
    avgdl, n_docs = float(stats["avgdl"]), int(stats["n"])
    probes = tok.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("qid")
    ).distinct()
    wq = Window.partitionBy("qid").orderBy(F.desc("c"), "t")
    qterms = (
        tok.join(F.broadcast(probes), tok.doc_id == probes.qid)
        .groupBy("qid", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= 3)
        .select("qid", "t")
    )
    qterms = op_cache.reuse(qterms)
    terms = qterms.select("t").distinct()
    tfq = (
        tok.join(F.broadcast(terms), "t")
        .groupBy("t", "doc_id")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = tfq.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.select(
        "t",
        F.round(
            F.log(
                (F.lit(float(n_docs)) - F.col("df").cast("double") + F.lit(0.5))
                / (F.col("df").cast("double") + F.lit(0.5))
                + F.lit(1.0)
            ),
            6,
        ).alias("idf"),
    )
    ts = (
        qterms.join(tfq, "t")
        .join(F.broadcast(idf), "t")
        .join(dl, "doc_id")
        .select(
            "qid",
            "doc_id",
            "t",
            (
                F.col("idf")
                * (F.col("tf") * F.lit(2.2))
                / (
                    F.col("tf")
                    + F.lit(1.2)
                    * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.lit(avgdl))
                )
            ).alias("s"),
        )
    )
    scored = (
        ts.groupBy("qid", "doc_id")
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(t, s))), "
                "cast(0 as double), (acc, e) -> acc + e.s)"
            ).alias("score")
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("score"), "doc_id")
    ranked = scored.withColumn("rnk", F.row_number().over(wr))
    hits = (
        probes.join(ranked, "qid", "left")
        .groupBy("qid")
        .agg(
            F.max(
                F.when(
                    (F.col("doc_id") == F.col("qid")) & (F.col("rnk") <= 10),
                    (F.lit(2520) / F.col("rnk")).cast("long"),
                ).otherwise(0)
            ).alias("rr2520")
        )
    )
    return hits.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(F.when(F.col("rr2520") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_found_top10"),
        F.sum("rr2520").cast("bigint").alias("mrr_x2520"),
        F.round(
            F.sum("rr2520").cast("double")
            / (F.lit(2520.0) * F.count(F.lit(1))),
            6,
        ).alias("mrr_at10"),
    )


@register(
    "token_balanced_shards",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             len(string_split_regex(regexp_replace(lower(trim(text)),
                                                   '\\s+', ' ', 'g'), ' '))
               AS n_tok
      FROM documents),
    rr AS (
      SELECT doc_id, n_tok,
             (ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) - 1) % 16
               AS shard_id
      FROM toks),
    hash_s AS (
      SELECT n_tok,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % 16 AS shard_id
      FROM toks),
    r AS (SELECT shard_id, SUM(n_tok) AS load FROM rr GROUP BY shard_id),
    h AS (SELECT shard_id, SUM(n_tok) AS load FROM hash_s GROUP BY shard_id)
    SELECT CAST(r.shard_id AS INT) AS shard_id,
           CAST(r.load AS BIGINT) AS sorted_rr_load,
           CAST(h.load AS BIGINT) AS hash_load,
           CAST((SELECT MAX(load) - MIN(load) FROM r) AS BIGINT)
             AS rr_spread,
           CAST((SELECT MAX(load) - MIN(load) FROM h) AS BIGINT)
             AS hash_spread
    FROM r JOIN h ON h.shard_id = r.shard_id
    ORDER BY shard_id
    """,
)
def token_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment: round-robin over the
    length-sorted corpus (the parallel-friendly LPT approximation) vs
    plain hash sharding, with per-shard token loads and the max-min
    spread of each scheme side by side — the measured case for sorting
    before sharding when downstream cost is token-proportional. All
    integers; the global sort is one range exchange."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("n_tok"),
    )
    toks = op_cache.reuse(toks)
    wrr = Window.orderBy(F.col("n_tok").desc(), "doc_id")
    rr = toks.select(
        "n_tok",
        ((F.row_number().over(wrr) - 1) % 16).cast("int").alias("shard_id"),
    ).groupBy("shard_id").agg(F.sum("n_tok").cast("bigint").alias("rr_load"))
    hs = toks.select(
        "n_tok",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % 16
        ).cast("int").alias("shard_id"),
    ).groupBy("shard_id").agg(F.sum("n_tok").cast("bigint").alias("hash_load"))
    rspread = rr.agg(
        (F.max("rr_load") - F.min("rr_load")).cast("bigint").alias("rr_spread")
    )
    hspread = hs.agg(
        (F.max("hash_load") - F.min("hash_load"))
        .cast("bigint")
        .alias("hash_spread")
    )
    return (
        rr.join(hs, "shard_id")
        .crossJoin(F.broadcast(rspread))
        .crossJoin(F.broadcast(hspread))
        .select(
            "shard_id",
            F.col("rr_load").alias("sorted_rr_load"),
            "hash_load",
            "rr_spread",
            "hash_spread",
        )
        .orderBy("shard_id")
    )


@register(
    "nucleus_vocab_per_lang",
    oracle="""
    WITH w AS (
      SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
      FROM documents WHERE trim(text) <> ''),
    freq AS (SELECT lang, t, COUNT(*) AS n FROM w GROUP BY lang, t),
    ranked AS (
      SELECT lang, t, n,
             SUM(n) OVER (PARTITION BY lang ORDER BY n DESC, t) AS cum,
             SUM(n) OVER (PARTITION BY lang) AS tot,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n DESC, t) AS rk
      FROM freq)
    SELECT lang,
           CAST(MAX(CASE WHEN 10 * (cum - n) < 9 * tot THEN rk ELSE 0 END)
                AS BIGINT) AS nucleus_size,
           CAST(MAX(rk) AS BIGINT) AS vocab_size,
           ROUND(CAST(MAX(CASE WHEN 10 * (cum - n) < 9 * tot
                               THEN rk ELSE 0 END) AS DOUBLE) /
                 MAX(rk), 6) AS nucleus_fraction
    FROM ranked GROUP BY lang ORDER BY lang
    """,
)
def nucleus_vocab_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) vocabulary size per language: the smallest
    frequency-ranked prefix covering 90% of token mass — the
    distributional statistic behind nucleus sampling and vocab sizing.
    The inclusion test is exact integer arithmetic (a word is in the
    nucleus iff the mass BEFORE it is under 9/10 of the total, i.e.
    10*(cum - n) < 9*tot), deterministic tiebreaks on the rank windows."""
    docs = _t(spark, sf_dir, "documents")
    w = docs.filter(F.trim("text") != "").select(
        "lang",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("t"),
    )
    freq = w.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("n"))
    wr = Window.partitionBy("lang").orderBy(F.desc("n"), "t")
    wc = wr.rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy("lang")
    ranked = freq.select(
        "lang",
        "n",
        F.sum("n").over(wc).alias("cum"),
        F.sum("n").over(wt).alias("tot"),
        F.row_number().over(wr).alias("rk"),
    )
    return (
        ranked.groupBy("lang")
        .agg(
            F.max(
                F.when(
                    10 * (F.col("cum") - F.col("n")) < 9 * F.col("tot"),
                    F.col("rk"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("nucleus_size"),
            F.max("rk").cast("bigint").alias("vocab_size"),
            F.round(
                F.max(
                    F.when(
                        10 * (F.col("cum") - F.col("n")) < 9 * F.col("tot"),
                        F.col("rk"),
                    ).otherwise(0)
                ).cast("double")
                / F.max("rk"),
                6,
            ).alias("nucleus_fraction"),
        )
        .orderBy("lang")
    )


@register(
    "kneser_ney_bigram_top30",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
      FROM documents),
    bg AS (
      SELECT ws[i+1] AS w1, ws[i+2] AS w2
      FROM words, unnest(range(0, greatest(len(ws) - 1, 0))) AS t(i)
      WHERE ws[i+1] <> '' AND ws[i+2] <> ''),
    c12 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c) AS tot, COUNT(*) AS nl FROM c12 GROUP BY w1),
    cr AS (SELECT w2, COUNT(*) AS nr FROM c12 GROUP BY w2),
    bt AS (SELECT COUNT(*) AS b FROM c12),
    p AS (
      SELECT c12.w1, c12.w2, c12.c,
             (CAST(c12.c AS DOUBLE) - CAST(0.75 AS DOUBLE))
               / CAST(c1.tot AS DOUBLE)
             + CAST(0.75 AS DOUBLE) * CAST(c1.nl AS DOUBLE)
               / CAST(c1.tot AS DOUBLE)
               * (CAST(cr.nr AS DOUBLE) / CAST(bt.b AS DOUBLE)) AS pkn
      FROM c12 JOIN c1 USING (w1) JOIN cr USING (w2), bt)
    SELECT w1, w2, CAST(c AS BIGINT) AS c12, ROUND(pkn, 6) AS p_kn
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY c DESC, w1, w2) AS rn FROM p)
    WHERE rn <= 30
    ORDER BY c12 DESC, w1, w2
    """,
)
def kneser_ney_bigram_top30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney smoothed bigram probabilities (d=0.75) for
    the corpus's 30 most frequent bigrams: discounted ML estimate plus
    the continuation-probability backoff N1+(·w2)/|bigram types| — the
    smoothing used by every serious count-based LM. All inputs are exact
    integer counts; the probability arithmetic is double with identical
    operation order in both engines. Count tables shuffle once each on
    narrow keys; the continuation/left-type tables are aggregates OF the
    bigram table, so the corpus is tokenized exactly once."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.split(
            F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
        ).alias("ws")
    )
    bg = (
        words.select(
            F.expr(
                "CASE WHEN size(ws) >= 2 THEN "
                "transform(sequence(1, size(ws) - 1), "
                "i -> struct(ws[i-1] AS w1, ws[i] AS w2)) "
                "ELSE array() END"
            ).alias("pairs")
        )
        .select(F.explode("pairs").alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    c12 = op_cache.reuse(c12)
    c1 = c12.groupBy("w1").agg(
        F.sum("c").alias("tot"), F.count(F.lit(1)).alias("nl")
    )
    cr = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("nr"))
    bt = c12.agg(F.count(F.lit(1)).alias("b"))
    d = F.lit(0.75).cast("double")
    p = (
        c12.join(c1, "w1")
        .join(cr, "w2")
        .crossJoin(F.broadcast(bt))
        .select(
            "w1",
            "w2",
            "c",
            (
                (F.col("c").cast("double") - d) / F.col("tot").cast("double")
                + d
                * F.col("nl").cast("double")
                / F.col("tot").cast("double")
                * (F.col("nr").cast("double") / F.col("b").cast("double"))
            ).alias("pkn"),
        )
    )
    return (
        p.orderBy(F.desc("c"), "w1", "w2")
        .limit(30)
        .select(
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("c12"),
            F.round("pkn", 6).alias("p_kn"),
        )
        .orderBy(F.desc("c12"), "w1", "w2")
    )


@register(
    "chao1_unseen_vocab",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
      FROM documents),
    t2 AS (SELECT w FROM toks WHERE w <> ''),
    cnt AS (SELECT w, COUNT(*) AS c FROM t2 GROUP BY w),
    st AS (
      SELECT COUNT(*) AS d,
             SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
             SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2,
             SUM(c) AS n
      FROM cnt)
    SELECT CAST(n AS BIGINT) AS total_tokens,
           CAST(d AS BIGINT) AS observed_vocab,
           CAST(f1 AS BIGINT) AS singletons, CAST(f2 AS BIGINT) AS doubletons,
           ROUND(CAST(d AS DOUBLE)
                 + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
                   / (CAST(2 AS DOUBLE) * CAST(f2 + 1 AS DOUBLE)), 6)
             AS chao1_richness,
           ROUND(CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS good_turing_unseen_mass,
           ROUND(1 - CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS sample_coverage
    FROM st
    """,
)
def chao1_unseen_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much vocabulary has the corpus NOT seen yet: the
    bias-corrected Chao1 richness estimate D + f1(f1−1)/(2(f2+1)) from
    singleton/doubleton counts, plus the Good-Turing unseen-probability
    mass f1/N and its complement (sample coverage) — the stopping
    criterion for "will more data buy more vocabulary". One token
    count, one frequency-of-frequency fold."""
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
    st = cnt.agg(
        F.count(F.lit(1)).alias("d"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("f2"),
        F.sum("c").alias("n"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    return st.select(
        F.col("n").cast("bigint").alias("total_tokens"),
        F.col("d").cast("bigint").alias("observed_vocab"),
        F.col("f1").cast("bigint").alias("singletons"),
        F.col("f2").cast("bigint").alias("doubletons"),
        F.round(
            dd("d")
            + dd("f1")
            * (F.col("f1") - 1).cast("double")
            / (F.lit(2).cast("double") * (F.col("f2") + 1).cast("double")),
            6,
        ).alias("chao1_richness"),
        F.round(dd("f1") / dd("n"), 6).alias("good_turing_unseen_mass"),
        F.round(1 - dd("f1") / dd("n"), 6).alias("sample_coverage"),
    )


@register(
    "texttiling_chunk_boundaries",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             [w FOR w IN string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
              IF w <> ''] AS ws
      FROM documents WHERE doc_id < 20),
    pos AS (
      SELECT doc_id, unnest(range(1, len(ws) + 1)) AS p,
             unnest(ws) AS w
      FROM words),
    gaps AS (
      SELECT doc_id, unnest(range(20, len(ws) - 18, 10)) AS g
      FROM words WHERE len(ws) >= 40),
    sides AS (
      SELECT ga.doc_id, ga.g,
             CASE WHEN p.p < ga.g THEN 'l' ELSE 'r' END AS side, p.w,
             COUNT(*) AS c
      FROM gaps ga JOIN pos p
        ON p.doc_id = ga.doc_id
       AND p.p >= ga.g - 20 AND p.p <= ga.g + 19
      GROUP BY ga.doc_id, ga.g, 3, p.w),
    dots AS (
      SELECT l.doc_id, l.g, SUM(l.c * r.c) AS dot
      FROM sides l JOIN sides r
        ON r.doc_id = l.doc_id AND r.g = l.g AND r.w = l.w
       AND l.side = 'l' AND r.side = 'r'
      GROUP BY l.doc_id, l.g),
    norms AS (
      SELECT doc_id, g,
             SUM(CASE WHEN side = 'l' THEN c * c ELSE 0 END) AS nl,
             SUM(CASE WHEN side = 'r' THEN c * c ELSE 0 END) AS nr
      FROM sides GROUP BY doc_id, g),
    scored AS (
      SELECT n.doc_id, n.g,
             CAST(COALESCE(d.dot, 0) AS DOUBLE)
             / (SQRT(CAST(n.nl AS DOUBLE)) * SQRT(CAST(n.nr AS DOUBLE)))
               AS cos
      FROM norms n LEFT JOIN dots d
        ON d.doc_id = n.doc_id AND d.g = n.g)
    SELECT doc_id, CAST(g AS BIGINT) AS boundary_pos,
           ROUND(cos, 6) AS window_cosine, CAST(rk AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY cos, g) AS rk
          FROM scored)
    WHERE rk <= 3
    ORDER BY doc_id, rank
    """,
)
def texttiling_chunk_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling-style chunk-boundary detection (the RAG chunking
    primitive): candidate gaps every 10 tokens get the cosine between
    the 20-token word-count vectors on each side, and each document's 3
    LOWEST-cohesion gaps are its topic boundaries — split where
    adjacent windows share the least vocabulary, not at arbitrary
    fixed offsets. Count vectors are exact integers (dot products and
    norms too), so only the final cosine is floating point. Scale
    shape: each token lands in ≤4 (gap, side) windows — the data
    expands by a constant factor, then one narrow-key aggregate;
    nothing quadratic in document count."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    words = docs.select(
        "doc_id",
        F.filter(
            F.split(
                F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
            ),
            lambda x: x != "",
        ).alias("ws"),
    )
    words = op_cache.reuse(words)
    pos = words.select(
        "doc_id", F.posexplode("ws").alias("p0", "w")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    gaps = (
        words.filter(F.size("ws") >= 40)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(20), F.size("ws") - 19, F.lit(10))
            ).alias("g"),
        )
    )
    sides = (
        gaps.join(
            pos.withColumnRenamed("doc_id", "pd"),
            (F.col("pd") == F.col("doc_id"))
            & (F.col("p") >= F.col("g") - 20)
            & (F.col("p") <= F.col("g") + 19),
        )
        .groupBy(
            "doc_id",
            "g",
            F.when(F.col("p") < F.col("g"), "l").otherwise("r").alias("side"),
            "w",
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sides = op_cache.reuse(sides)
    l = sides.filter(F.col("side") == "l").select(
        F.col("doc_id").alias("dl"),
        F.col("g").alias("gl"),
        F.col("w").alias("wl"),
        F.col("c").alias("cl"),
    )
    r = sides.filter(F.col("side") == "r").select(
        F.col("doc_id").alias("dr"),
        F.col("g").alias("gr"),
        F.col("w").alias("wr"),
        F.col("c").alias("cr"),
    )
    dots = (
        l.join(
            r,
            (F.col("dr") == F.col("dl"))
            & (F.col("gr") == F.col("gl"))
            & (F.col("wr") == F.col("wl")),
        )
        .groupBy(F.col("dl").alias("doc_id"), F.col("gl").alias("g"))
        .agg(F.sum(F.col("cl") * F.col("cr")).alias("dot"))
    )
    norms = sides.groupBy("doc_id", "g").agg(
        F.sum(
            F.when(F.col("side") == "l", F.col("c") * F.col("c")).otherwise(0)
        ).alias("nl"),
        F.sum(
            F.when(F.col("side") == "r", F.col("c") * F.col("c")).otherwise(0)
        ).alias("nr"),
    )
    scored = norms.join(dots, ["doc_id", "g"], "left").select(
        "doc_id",
        "g",
        (
            F.coalesce(F.col("dot"), F.lit(0)).cast("double")
            / (
                F.sqrt(F.col("nl").cast("double"))
                * F.sqrt(F.col("nr").cast("double"))
            )
        ).alias("cos"),
    )
    wr_ = Window.partitionBy("doc_id").orderBy("cos", "g")
    return (
        scored.withColumn("rk", F.row_number().over(wr_))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id",
            F.col("g").cast("bigint").alias("boundary_pos"),
            F.round("cos", 6).alias("window_cosine"),
            F.col("rk").cast("int").alias("rank"),
        )
        .orderBy("doc_id", "rank")
    )


@register(
    "self_bleu_diversity",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             [w FOR w IN string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
              IF w <> ''] AS ws
      FROM documents),
    uni AS (
      SELECT doc_id, unnest(ws) AS g FROM words),
    bi AS (
      SELECT doc_id, ws[i+1] || ' ' || ws[i+2] AS g
      FROM words, unnest(range(0, greatest(len(ws) - 1, 0))) AS t(i)),
    cnt1 AS (SELECT doc_id, g, COUNT(*) AS c FROM uni GROUP BY doc_id, g),
    cnt2 AS (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY doc_id, g),
    top1 AS (
      SELECT g, doc_id, c,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY c DESC, doc_id) AS rn
      FROM cnt1),
    mx1 AS (
      SELECT g,
             MAX(CASE WHEN rn = 1 THEN c END) AS c1,
             MAX(CASE WHEN rn = 1 THEN doc_id END) AS d1,
             COALESCE(MAX(CASE WHEN rn = 2 THEN c END), 0) AS c2
      FROM top1 WHERE rn <= 2 GROUP BY g),
    top2 AS (
      SELECT g, doc_id, c,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY c DESC, doc_id) AS rn
      FROM cnt2),
    mx2 AS (
      SELECT g,
             MAX(CASE WHEN rn = 1 THEN c END) AS c1,
             MAX(CASE WHEN rn = 1 THEN doc_id END) AS d1,
             COALESCE(MAX(CASE WHEN rn = 2 THEN c END), 0) AS c2
      FROM top2 WHERE rn <= 2 GROUP BY g),
    p1 AS (
      SELECT c.doc_id,
             SUM(LEAST(c.c, CASE WHEN m.d1 = c.doc_id THEN m.c2
                                 ELSE m.c1 END)) AS clipped,
             SUM(c.c) AS total
      FROM cnt1 c JOIN mx1 m USING (g)
      WHERE c.doc_id < 20 GROUP BY c.doc_id),
    p2 AS (
      SELECT c.doc_id,
             SUM(LEAST(c.c, CASE WHEN m.d1 = c.doc_id THEN m.c2
                                 ELSE m.c1 END)) AS clipped,
             SUM(c.c) AS total
      FROM cnt2 c JOIN mx2 m USING (g)
      WHERE c.doc_id < 20 GROUP BY c.doc_id)
    SELECT p1.doc_id,
           ROUND(CAST(p1.clipped AS DOUBLE) / CAST(p1.total AS DOUBLE), 6)
             AS p1_precision,
           ROUND(CAST(p2.clipped AS DOUBLE) / CAST(p2.total AS DOUBLE), 6)
             AS p2_precision,
           ROUND(SQRT((CAST(p1.clipped AS DOUBLE) / CAST(p1.total AS DOUBLE))
                      * (CAST(p2.clipped AS DOUBLE)
                         / CAST(p2.total AS DOUBLE))), 6) AS self_bleu2
    FROM p1 JOIN p2 USING (doc_id)
    ORDER BY doc_id
    """,
)
def self_bleu_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-BLEU-2 corpus-diversity audit (the mode-collapse detector
    for synthetic data): each probe document's clipped unigram/bigram
    precision against the REST of the corpus as reference — clip counts
    use the per-n-gram top-2 trick (max count in any OTHER doc = max1,
    or max2 when this doc holds the max), so no doc×doc join ever
    happens. High self-BLEU = the document is assembled from phrases
    the corpus already repeats. Integer counts throughout; one window
    per n-gram table."""
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
    words = op_cache.reuse(words)
    uni = words.select("doc_id", F.explode("ws").alias("g"))
    bi = words.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 2 THEN transform(sequence(1, size(ws) - 1), "
                "i -> concat(ws[i-1], ' ', ws[i])) ELSE array() END"
            )
        ).alias("g"),
    )

    def prec(grams: DataFrame) -> DataFrame:
        cnt = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
        wt = Window.partitionBy("g").orderBy(F.desc("c"), "doc_id")
        top = cnt.select("g", "doc_id", "c", F.row_number().over(wt).alias("rn"))
        mx = (
            top.filter(F.col("rn") <= 2)
            .groupBy("g")
            .agg(
                F.max(F.when(F.col("rn") == 1, F.col("c"))).alias("c1"),
                F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("d1"),
                F.coalesce(
                    F.max(F.when(F.col("rn") == 2, F.col("c"))), F.lit(0)
                ).alias("c2"),
            )
        )
        return (
            cnt.filter(F.col("doc_id") < 20)
            .join(mx, "g")
            .groupBy("doc_id")
            .agg(
                F.sum(
                    F.least(
                        F.col("c"),
                        F.when(
                            F.col("d1") == F.col("doc_id"), F.col("c2")
                        ).otherwise(F.col("c1")),
                    )
                ).alias("clipped"),
                F.sum("c").alias("total"),
            )
        )

    p1 = prec(uni).select(
        "doc_id",
        (F.col("clipped").cast("double") / F.col("total").cast("double")).alias(
            "r1"
        ),
    )
    p2 = prec(bi).select(
        "doc_id",
        (F.col("clipped").cast("double") / F.col("total").cast("double")).alias(
            "r2"
        ),
    )
    return (
        p1.join(p2, "doc_id")
        .select(
            "doc_id",
            F.round("r1", 6).alias("p1_precision"),
            F.round("r2", 6).alias("p2_precision"),
            F.round(F.sqrt(F.col("r1") * F.col("r2")), 6).alias("self_bleu2"),
        )
        .orderBy("doc_id")
    )


@register(
    "erlang_b_blocking",
    oracle="""
    WITH RECURSIVE
    load AS (
      SELECT (CAST(COUNT(*) AS DOUBLE)
              / (CAST(DATE_DIFF('second', MIN(ts), MAX(ts)) AS DOUBLE)
                 / CAST(3600 AS DOUBLE)))
             * CAST(0.1 AS DOUBLE) AS a
      FROM events),
    erl(k, b, b5, b10, kopt) AS (
      SELECT 0, CAST(1 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), 0
      UNION ALL
      SELECT e.k + 1,
             l.a * e.b / (CAST(e.k + 1 AS DOUBLE) + l.a * e.b),
             CASE WHEN e.k + 1 = 5
                  THEN l.a * e.b / (CAST(e.k + 1 AS DOUBLE) + l.a * e.b)
                  ELSE e.b5 END,
             CASE WHEN e.k + 1 = 10
                  THEN l.a * e.b / (CAST(e.k + 1 AS DOUBLE) + l.a * e.b)
                  ELSE e.b10 END,
             CASE WHEN e.kopt = 0
                       AND l.a * e.b / (CAST(e.k + 1 AS DOUBLE) + l.a * e.b)
                           < CAST(0.01 AS DOUBLE)
                  THEN e.k + 1 ELSE e.kopt END
      FROM erl e, load l WHERE e.k < 20)
    SELECT ROUND(l.a, 6) AS offered_load_erlangs,
           ROUND(e.b5, 6) AS blocking_5_servers,
           ROUND(e.b10, 6) AS blocking_10_servers,
           ROUND(e.b, 6) AS blocking_20_servers,
           CAST(e.kopt AS INT) AS min_servers_below_1pct
    FROM erl e, load l WHERE e.k = 20
    """,
)
def erlang_b_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-B blocking probabilities for the event stream treated as
    an arrival process: offered load a = (events/hour) x 0.1h mean
    service time, then the classical recurrence B_k = a*B_{k-1} /
    (k + a*B_{k-1}) folded k=1..20 — capacity planning's oldest closed
    form, here answering "how many parallel workers until <1% of
    requests would be turned away". The only data-sized work is one
    count + min/max timestamp agg; the 20-step fold is a constant-size
    aggregate() whose double ops mirror the oracle's recursive CTE
    text exactly. Reports blocking at 5/10/20 servers and the smallest
    k below 1%."""
    ev = _t(spark, sf_dir, "events")
    load = ev.agg(
        (
            (
                F.count(F.lit(1)).cast("double")
                / (
                    (
                        F.unix_timestamp(F.max("ts"))
                        - F.unix_timestamp(F.min("ts"))
                    ).cast("double")
                    / F.lit(3600).cast("double")
                )
            )
            * F.lit(0.1).cast("double")
        ).alias("a")
    )
    state = (
        "named_struct('b', CAST(1 AS DOUBLE), 'b5', CAST(0 AS DOUBLE), "
        "'b10', CAST(0 AS DOUBLE), 'kopt', 0)"
    )
    bnew = "a * acc.b / (CAST(k AS DOUBLE) + a * acc.b)"
    step = (
        "(acc, k) -> named_struct("
        f"'b', {bnew}, "
        f"'b5', CASE WHEN k = 5 THEN {bnew} ELSE acc.b5 END, "
        f"'b10', CASE WHEN k = 10 THEN {bnew} ELSE acc.b10 END, "
        f"'kopt', CASE WHEN acc.kopt = 0 AND {bnew} < CAST(0.01 AS DOUBLE) "
        "THEN k ELSE acc.kopt END)"
    )
    return load.select(
        "a",
        F.expr(f"aggregate(sequence(1, 20), {state}, {step})").alias("e"),
    ).select(
        F.round("a", 6).alias("offered_load_erlangs"),
        F.round("e.b5", 6).alias("blocking_5_servers"),
        F.round("e.b10", 6).alias("blocking_10_servers"),
        F.round("e.b", 6).alias("blocking_20_servers"),
        F.col("e.kopt").cast("int").alias("min_servers_below_1pct"),
    )


@register(
    "vocabulary_richness_battery",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split_regex(
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
             AS w
      FROM documents),
    freq AS (
      SELECT w, COUNT(*) AS r FROM words WHERE w <> '' GROUP BY w),
    fof AS (SELECT r, COUNT(*) AS nr FROM freq GROUP BY r),
    agg AS (
      SELECT SUM(r * nr) AS n, SUM(nr) AS v,
             SUM(r * r * nr) AS srr,
             COALESCE(MAX(CASE WHEN r = 1 THEN nr END), 0) AS n1,
             COALESCE(MAX(CASE WHEN r = 2 THEN nr END), 0) AS n2
      FROM fof)
    SELECT CAST(n AS BIGINT) AS n_tokens,
           CAST(v AS BIGINT) AS vocab_size,
           ROUND(CAST(10000 AS DOUBLE)
                 * CAST(srr - n AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS yule_k,
           ROUND(LN(CAST(v AS DOUBLE)) / LN(CAST(n AS DOUBLE)), 6)
             AS herdan_c,
           ROUND(CAST(v AS DOUBLE) / SQRT(CAST(n AS DOUBLE)), 6)
             AS guiraud_r,
           ROUND(CAST(n2 AS DOUBLE) / CAST(v AS DOUBLE), 6) AS sichel_s,
           ROUND(CAST(100 AS DOUBLE) * LN(CAST(n AS DOUBLE))
                 / (CAST(1 AS DOUBLE)
                    - CAST(n1 AS DOUBLE) / CAST(v AS DOUBLE)), 4)
             AS honore_h
    FROM agg
    """,
)
def vocabulary_richness_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical vocabulary-richness battery over the corpus unigram
    frequency spectrum: Yule's K (repeat-rate, length-invariant),
    Herdan's C (log-log type/token slope), Guiraud's R, Sichel's S
    (dis-legomena share) and Honore's H (hapax-weighted) — the
    stylometry constants that, unlike raw type-token ratio, are
    designed to be comparable across corpus sizes (complementing the
    registered TTR/lexical-diversity and Heaps-law queries). Every
    input is an exact integer from the frequency-of-frequencies table;
    the five statistics are closed-form doubles. Two hash-aggs at any
    scale."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("w")
    ).filter(F.col("w") != "")
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("r"))
    fof = freq.groupBy("r").agg(F.count(F.lit(1)).alias("nr"))
    agg = fof.agg(
        F.sum(F.col("r") * F.col("nr")).alias("n"),
        F.sum("nr").alias("v"),
        F.sum(F.col("r") * F.col("r") * F.col("nr")).alias("srr"),
        F.coalesce(
            F.max(F.when(F.col("r") == 1, F.col("nr"))), F.lit(0)
        ).alias("n1"),
        F.coalesce(
            F.max(F.when(F.col("r") == 2, F.col("nr"))), F.lit(0)
        ).alias("n2"),
    )
    return agg.selectExpr(
        "CAST(n AS BIGINT) AS n_tokens",
        "CAST(v AS BIGINT) AS vocab_size",
        "ROUND(CAST(10000 AS DOUBLE) * CAST(srr - n AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS yule_k",
        "ROUND(LN(CAST(v AS DOUBLE)) / LN(CAST(n AS DOUBLE)), 6)"
        " AS herdan_c",
        "ROUND(CAST(v AS DOUBLE) / SQRT(CAST(n AS DOUBLE)), 6)"
        " AS guiraud_r",
        "ROUND(CAST(n2 AS DOUBLE) / CAST(v AS DOUBLE), 6) AS sichel_s",
        "ROUND(CAST(100 AS DOUBLE) * LN(CAST(n AS DOUBLE))"
        " / (CAST(1 AS DOUBLE) - CAST(n1 AS DOUBLE) / CAST(v AS DOUBLE)),"
        " 4) AS honore_h",
    )


__all__ = [
    'text_stats_q',
    'text_lang_id_q',
    'text_quality_score',
    'lexical_diversity_by_lang',
    'udtf_bigram_top20',
    'unigram_logprob_score',
    'token_length_histogram',
    'pretokenize_top_tokens',
    'bigram_lm_score',
    'bpe_merge_candidates',
    'truncate_to_token_budget',
    'bm25_search_topk',
    'doc_readability',
    'naive_bayes_lang_score',
    'token_sliding_windows',
    'vocab_coverage_curve',
    'bigram_pmi_collocations',
    'lang_id_confusion_matrix',
    'tokenizer_fertility_by_lang',
    'arrow_text_byte_stats',
    'repeated_ngram_loop_detection',
    'js_divergence_lang_unigrams',
    'zipf_slope_fit',
    'heaps_law_vocab_growth',
    'bpe_apply_merges',
    'rake_keyphrases',
    'ngram_novelty_by_source',
    'bpe_detokenize_roundtrip',
    'bpe_train_3rounds',
    'bm25_mrr_eval',
    'token_balanced_shards',
    'nucleus_vocab_per_lang',
    'kneser_ney_bigram_top30',
    'chao1_unseen_vocab',
    'texttiling_chunk_boundaries',
    'self_bleu_diversity',
    'erlang_b_blocking',
    'vocabulary_richness_battery',
]
