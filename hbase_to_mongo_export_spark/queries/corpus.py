"""corpus queries (mechanically split from the original queries.py monolith;
bodies verbatim, shared registry in _core)."""

from ._core import *  # noqa: F401,F403



@register(
    "doc_repetition_3gram",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
      FROM documents),
    g AS (
      SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      FROM w, UNNEST(range(1, greatest(len(ws) - 1, 1))) AS t(i))
    SELECT doc_id,
           COUNT(*) AS n_grams,
           1.0 - CAST(COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*) AS dup_ratio
    FROM g GROUP BY doc_id
    ORDER BY dup_ratio DESC, doc_id LIMIT 20
    """,
)
def doc_repetition_3gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: fraction of duplicate word 3-grams
    per document, top-20 most repetitive. The ratio is a pure int/int
    double division (no rounding needed — bit-exact in any engine)."""
    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(dedup_mod.word_ngrams(F.col("text"), 3)).alias("gram")
    )
    return (
        grams.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            (
                F.lit(1.0)
                - F.countDistinct("gram").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("dup_ratio"),
        )
        .orderBy(F.col("dup_ratio").desc(), "doc_id")
        .limit(20)
    )


@register(
    "pii_scrub_stats",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact: user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS s
      FROM documents),
    scrub AS (
      SELECT doc_id, s,
             regexp_replace(
               regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\\+1-555-[0-9]{4}', '[PHONE]', 'g') AS clean
      FROM aug)
    SELECT CAST(SUM(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))) AS BIGINT) AS emails_found,
           CAST(SUM(len(regexp_extract_all(s, '\\+1-555-[0-9]{4}'))) AS BIGINT) AS phones_found,
           CAST(SUM(len(clean)) AS BIGINT) AS scrubbed_len,
           CAST(SUM(CASE WHEN clean LIKE '%[EMAIL]%' AND clean LIKE '%[PHONE]%' THEN 1 ELSE 0 END) AS BIGINT) AS fully_scrubbed
    FROM scrub
    """,
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents: email/phone regex scrub (JVM-side
    regexp_replace — codegen'd, no UDF). The fixture text has no PII, so
    deterministic synthetic contact strings are appended per doc and the
    scrub is verified to find and redact every one."""
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\+1-555-[0-9]{4}"
    docs = _t(spark, sf_dir, "documents")
    s = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    aug = docs.select("doc_id", s.alias("s"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("s"), email_re, "[EMAIL]"), phone_re, "[PHONE]"
    )
    return aug.select(
        "s", clean.alias("clean")
    ).agg(
        F.sum(F.regexp_count("s", F.lit(email_re))).cast("bigint").alias("emails_found"),
        F.sum(F.regexp_count("s", F.lit(phone_re))).cast("bigint").alias("phones_found"),
        F.sum(F.length("clean")).cast("bigint").alias("scrubbed_len"),
        F.sum(
            F.when(
                F.col("clean").contains("[EMAIL]") & F.col("clean").contains("[PHONE]"),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("fully_scrubbed"),
    )


@register(
    "c4_quality_filter",
    oracle="""
    WITH base AS (
      SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN []
                  ELSE [lower(w) FOR w IN string_split_regex(trim(text), '\\s+')] END AS words
      FROM documents),
    feats AS (
      SELECT doc_id, len(words) AS nw,
             CASE WHEN len(words) = 0 THEN 0.0
                  ELSE CAST(list_sum([CAST(len(w) AS BIGINT) FOR w IN words]) AS DOUBLE) / len(words) END AS mwl,
             CASE WHEN len(words) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(words, w -> list_contains(['the','and','of','to','a'], w))) AS DOUBLE) / len(words) END AS sw
      FROM base),
    labeled AS (
      SELECT CASE WHEN nw < 20 THEN 'too_short'
                  WHEN sw < 0.02 THEN 'low_stopword'
                  WHEN mwl > 5.0 THEN 'long_words'
                  ELSE 'keep' END AS verdict
      FROM feats)
    SELECT verdict, COUNT(*) AS n_docs FROM labeled
    GROUP BY verdict ORDER BY verdict
    """,
)
def c4_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality filter cascade: first failing rule labels
    the document (too_short → low_stopword → long_words → keep). All
    signals are built-in column expressions — a narrow, shuffle-free
    projection until the tiny per-verdict count."""
    docs = _t(spark, sf_dir, "documents")
    low = F.transform(tx.tokens(F.col("text")), lambda w: F.lower(w))
    nw = F.size(low)
    mwl = tx.mean_word_len(F.col("text"))
    sw = tx.stopword_ratio(F.col("text"), "en")
    verdict = (
        F.when(nw < 20, "too_short")
        .when(sw < 0.02, "low_stopword")
        .when(mwl > 5.0, "long_words")
        .otherwise("keep")
    )
    return (
        docs.select(verdict.alias("verdict"))
        .groupBy("verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("verdict")
    )


@register(
    "domain_mixture_weights",
    oracle="""
    WITH tok AS (
      SELECT source, SUM(len(string_split_regex(lower(trim(text)), '\\s+'))) AS n_tokens
      FROM documents WHERE trim(text) <> ''
      GROUP BY source
    ), tot AS (SELECT SUM(n_tokens) AS total FROM tok),
    w AS (
      SELECT source, n_tokens,
             ROUND(CAST(n_tokens AS DOUBLE) / (SELECT total FROM tot), 6) AS share,
             sqrt(CAST(n_tokens AS DOUBLE) / (SELECT total FROM tot)) AS raw_w
      FROM tok
    )
    SELECT source, n_tokens, share,
           ROUND(raw_w / (SELECT SUM(raw_w) FROM w), 6) AS mix_weight
    FROM w
    ORDER BY source
    """,
)
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed domain sampling weights (alpha = 0.5, i.e.
    sqrt-share renormalized — the static mixture baseline from
    multilingual/DoReMi-style training): upweights small sources,
    downweights dominant ones. Per-source token totals are one partial-
    aggregated shuffle; the two scalar denominators broadcast back, so
    corpus size never concentrates on the driver."""
    docs = _t(spark, sf_dir, "documents")
    tok = (
        docs.filter(F.trim(F.col("text")) != "")
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")))
            .alias("n_tokens")
        )
    )
    total = tok.agg(F.sum("n_tokens").alias("total"))
    w = tok.join(F.broadcast(total)).select(
        "source",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("total"), 6).alias("share"),
        F.sqrt(F.col("n_tokens").cast("double") / F.col("total")).alias("raw_w"),
    )
    denom = w.agg(F.sum("raw_w").alias("denom"))
    return (
        w.join(F.broadcast(denom))
        .select(
            "source",
            "n_tokens",
            "share",
            F.round(F.col("raw_w") / F.col("denom"), 6).alias("mix_weight"),
        )
        .orderBy("source")
    )


@register_demo("sequence_packing_stats")  # partition-dependent output: no
# engine-independent oracle; invariants pinned by TestSequencePacking.
def sequence_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack-level summary of first-fit-decreasing sequence packing
    (operators/packing.py): per pack, total fill and document count.
    Pack assignment depends on partition boundaries (packs never span
    partitions by design), so there is no engine-independent oracle —
    the invariants (every doc packed once, no pack over budget,
    determinism) are pinned by TestSequencePacking instead."""
    from ..operators.packing import pack_documents

    docs = _t(spark, sf_dir, "documents")
    packed = pack_documents(docs, budget=256)
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("fill"),
        )
        .orderBy(F.col("fill").desc(), "pack_id")
    )


@register(
    "curriculum_quality_bins",
    oracle="""
    WITH scored AS (
        SELECT doc_id, n_chars,
               LEN(string_split(text, ' ')) AS wc
        FROM documents WHERE text IS NOT NULL AND text <> ''
    ),
    binned AS (
        SELECT doc_id, n_chars, wc,
               NTILE(4) OVER (ORDER BY wc, doc_id) AS stage
        FROM scored
    )
    SELECT stage, COUNT(*) AS n_docs,
           MIN(wc) AS min_wc, MAX(wc) AS max_wc,
           SUM(n_chars) AS total_chars
    FROM binned GROUP BY stage ORDER BY stage
    """,
)
def curriculum_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: order documents by a difficulty proxy (word
    count) and split into 4 curriculum stages with NTILE. Training
    pipelines feed stages in order (easy→hard). The global NTILE is one
    range-partitioned sort; per-stage stats are a cheap reshuffle on the
    4-value stage key (AQE coalesces)."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("text") != "")
    )
    scored = docs.select(
        "doc_id", "n_chars", F.size(F.split(F.col("text"), " ")).alias("wc")
    )
    binned = scored.withColumn(
        "stage", F.ntile(4).over(Window.orderBy("wc", "doc_id"))
    )
    return (
        binned.groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("wc").alias("min_wc"),
            F.max("wc").alias("max_wc"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("stage")
    )


@register(
    "corpus_summary_scorecard",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
      FROM documents),
    fps AS (
      SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents)
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM toks) AS total_tokens,
           (SELECT CAST(MAX(n_tokens) AS BIGINT) FROM toks) AS max_doc_tokens,
           (SELECT COUNT(*) FROM documents WHERE trim(text) = '') AS n_empty,
           (SELECT COUNT(DISTINCT fp) FROM fps) AS n_unique_contents,
           ROUND(CAST((SELECT COUNT(*) FROM documents) -
                      (SELECT COUNT(DISTINCT fp) FROM fps) AS DOUBLE) /
                 CAST((SELECT COUNT(*) FROM documents) AS DOUBLE), 6)
             AS exact_dup_rate
    """,
)
def corpus_summary_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus scorecard: size, token volume, longest document,
    empty-document count, distinct-content count, and the exact-dup rate
    — the at-a-glance health check a curation pipeline prints before and
    after every transformation stage."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.when(F.trim(F.col("text")) == "", 0)
        .otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .alias("n_tokens"),
        F.trim(F.col("text")).alias("trimmed"),
        tx.fingerprint(F.col("text")).alias("fp"),
    )
    return toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_doc_tokens"),
        F.sum(F.when(F.col("trimmed") == "", 1).otherwise(0)).alias("n_empty"),
        F.countDistinct("fp").alias("n_unique_contents"),
        F.round(
            (F.count(F.lit(1)) - F.countDistinct("fp")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("exact_dup_rate"),
    )


@register(
    "gopher_quality_rules",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_NB_WORDS} AS ws, text FROM documents
      WHERE trim(text) != '')
    SELECT doc_id,
           len(ws) AS n_words,
           CASE WHEN len(ws) BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS ok_word_count,
           CASE WHEN 3 * len(ws) <= len(list_aggregate(ws, 'string_agg', ''))
                 AND len(list_aggregate(ws, 'string_agg', '')) <= 10 * len(ws)
                THEN 1 ELSE 0 END AS ok_mean_word_len,
           CASE WHEN 10 * len(regexp_replace(text, '[^#.]', '', 'g')) <= len(text)
                THEN 1 ELSE 0 END AS ok_symbol_ratio,
           CASE WHEN len(list_intersect(list_distinct(ws),
                        ['the', 'and', 'of', 'to', 'a'])) >= 2
                THEN 1 ELSE 0 END AS ok_stopwords
    FROM toks
    ORDER BY doc_id
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (word-count bounds, mean word
    length in [3,10], symbol-to-char ratio, minimum stopword evidence) as
    pure integer comparisons — e.g. "mean word length in [3,10]" is checked
    as 3·n ≤ total_chars ≤ 10·n, so no float division can drift between
    engines. All built-in column expressions; one narrow pass, no shuffle."""
    docs = _t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    ws = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    d = docs.select("doc_id", "text", ws.alias("ws"))
    total_chars = F.length(F.concat_ws("", F.col("ws")))
    n = F.size("ws")
    sym = F.length(F.regexp_replace(F.col("text"), r"[^#.]", ""))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.col("ws")),
            F.array(*[F.lit(s) for s in ("the", "and", "of", "to", "a")]),
        )
    )
    return d.select(
        "doc_id",
        n.alias("n_words"),
        F.when(n.between(20, 100000), 1).otherwise(0).alias("ok_word_count"),
        F.when((3 * n <= total_chars) & (total_chars <= 10 * n), 1)
        .otherwise(0)
        .alias("ok_mean_word_len"),
        F.when(10 * sym <= F.length("text"), 1).otherwise(0).alias("ok_symbol_ratio"),
        F.when(stop_hits >= 2, 1).otherwise(0).alias("ok_stopwords"),
    ).orderBy("doc_id")


@register(
    "training_corpus_pipeline",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
             {_NB_WORDS} AS ws, text
      FROM documents WHERE trim(text) != ''),
    canon AS (
      SELECT MIN(doc_id) AS keep_id, norm, COUNT(*) AS n_copies
      FROM base GROUP BY norm),
    survivors AS (
      SELECT b.* FROM base b JOIN canon c ON b.doc_id = c.keep_id),
    flagged AS (
      SELECT doc_id, lang, len(ws) AS n_tokens,
             CASE WHEN len(ws) BETWEEN 20 AND 100000
                   AND 3 * len(ws) <= len(list_aggregate(ws, 'string_agg', ''))
                   AND len(list_aggregate(ws, 'string_agg', '')) <= 10 * len(ws)
                  THEN 1 ELSE 0 END AS quality_ok
      FROM survivors),
    dups AS (SELECT SUM(n_copies - 1) AS n_dups FROM canon)
    SELECT lang,
           COUNT(*) AS n_docs_unique,
           CAST(SUM(quality_ok) AS BIGINT) AS n_docs_kept,
           CAST(SUM(CASE WHEN quality_ok = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           (SELECT CAST(n_dups AS BIGINT) FROM dups) AS corpus_exact_dups
    FROM flagged
    GROUP BY lang
    ORDER BY lang
    """,
)
def training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation pipeline in one lazy plan:
    normalize → exact-dedup (keep lowest doc_id per content) → quality
    gate (word-count + mean-word-length rules) → per-language token
    budget. This is the composition story: each stage is an operator the
    registry also checks in isolation, chained without materialization so
    Catalyst fuses the projections and the only shuffles are the dedup
    hash-agg and the final rollup."""
    docs = _t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    ws = F.split(norm, " ")
    base = docs.select("doc_id", "lang", norm.alias("norm"), ws.alias("ws"))
    # the dedup aggregate feeds two consumers (survivor join + dup
    # count); materialize only its (keep_id, n_copies) projection — the
    # heavy `norm` group key stays out of the materialized frame, and
    # the tokenize+hash-agg pass runs once instead of twice
    canon = op_cache.checkpoint(
        base.groupBy("norm").agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        ).select("keep_id", "n_copies")
    )
    survivors = base.join(
        canon.select(F.col("keep_id").alias("doc_id"), F.lit(1).alias("__k")),
        "doc_id",
    )
    n = F.size("ws")
    total_chars = F.length(F.concat_ws("", F.col("ws")))
    flagged = survivors.select(
        "doc_id",
        "lang",
        n.alias("n_tokens"),
        F.when(
            n.between(20, 100000)
            & (3 * n <= total_chars)
            & (total_chars <= 10 * n),
            1,
        )
        .otherwise(0)
        .alias("quality_ok"),
    )
    dups = canon.agg(
        F.sum(F.col("n_copies") - 1).cast("bigint").alias("corpus_exact_dups")
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_unique"),
            F.sum("quality_ok").cast("bigint").alias("n_docs_kept"),
            F.sum(F.when(F.col("quality_ok") == 1, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tokens_kept"),
        )
        .join(F.broadcast(dups))
        .orderBy("lang")
    )


@register(
    "packing_nfd_bound",
    oracle="""
    WITH RECURSIVE
    lens AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n
      FROM documents),
    capped AS (
      SELECT doc_id, LEAST(n, 256) AS n FROM lens WHERE n > 0),
    ordered AS (
      SELECT ROW_NUMBER() OVER (ORDER BY n DESC, doc_id) AS i, n FROM capped),
    nfd(i, bins, fill) AS (
      SELECT 1, 1, n FROM ordered WHERE i = 1
      UNION ALL
      SELECT o.i,
             CASE WHEN f.fill + o.n <= 256 THEN f.bins ELSE f.bins + 1 END,
             CASE WHEN f.fill + o.n <= 256 THEN f.fill + o.n ELSE o.n END
      FROM nfd f JOIN ordered o ON o.i = f.i + 1)
    SELECT CAST(256 AS INT) AS budget,
           (SELECT COUNT(*) FROM capped) AS n_docs,
           (SELECT CAST(SUM(n) AS BIGINT) FROM capped) AS total_tokens,
           CAST((SELECT CAST(CEIL(SUM(n) / CAST(256 AS DOUBLE)) AS BIGINT)
                 FROM capped) AS BIGINT) AS lower_bound_bins,
           CAST(bins AS BIGINT) AS nfd_bins
    FROM nfd ORDER BY i DESC LIMIT 1
    """,
)
def packing_nfd_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit-decreasing packing bound for 256-token training sequences:
    the deterministic, oracle-checkable companion to the partition-local
    FFD packer (sequence_packing_stats) — sort lengths descending, fold a
    single open bin, count bins, compare against the ceil(total/budget)
    lower bound. The fold runs over the collected length array (docs are
    the corpus here, but at scale you run this per shard and sum bins —
    packing is shard-local by design); the oracle replays it with a
    recursive CTE."""
    docs = _t(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id", tx.token_count(F.col("text")).alias("n")
    ).filter(F.col("n") > 0)
    capped = lens.select("doc_id", F.least(F.col("n"), F.lit(256)).alias("n"))
    arr = capped.agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct((-F.col("n")).alias("neg"), "doc_id"))
            ),
            lambda s: -s["neg"],
        ).alias("xs"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
    )
    state = "named_struct('bins', CAST(0 AS BIGINT), 'fill', CAST(0 AS BIGINT))"
    step = (
        "(acc, x) -> IF(acc.bins = 0, named_struct('bins', CAST(1 AS BIGINT), 'fill', CAST(x AS BIGINT)), "
        "IF(acc.fill + x <= 256, named_struct('bins', acc.bins, 'fill', acc.fill + CAST(x AS BIGINT)), "
        "named_struct('bins', acc.bins + 1, 'fill', CAST(x AS BIGINT))))"
    )
    return arr.select(
        F.lit(256).cast("int").alias("budget"),
        "n_docs",
        "total_tokens",
        F.ceil(F.col("total_tokens") / F.lit(256.0).cast("double"))
        .cast("bigint")
        .alias("lower_bound_bins"),
        F.expr(f"aggregate(xs, {state}, {step})").getField("bins").alias("nfd_bins"),
    )


@register(
    "mixture_temperature_weights",
    oracle="""
    WITH share AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    tot AS (SELECT SUM(n) AS t FROM share),
    scaled AS (
      SELECT lang, n,
             CAST(ROUND(sqrt(CAST(n AS DOUBLE) / (SELECT t FROM tot)), 9)
                  AS DECIMAL(18,9)) AS s
      FROM share),
    z AS (SELECT SUM(s) AS z FROM scaled)
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           ROUND(CAST(n AS DOUBLE) / (SELECT t FROM tot), 6) AS raw_share,
           ROUND(CAST(s AS DOUBLE) / CAST((SELECT z FROM z) AS DOUBLE), 6)
             AS temperature_weight
    FROM scaled ORDER BY lang
    """,
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights (T=2, i.e. sqrt-scaling) for
    the per-language training mixture — the standard up-weighting of
    low-resource slices (raw share p → p^(1/T), renormalized). Each
    sqrt is rounded and decimal-fixed before the normalizing sum, so the
    partition order of the 5-row aggregate can't move the weights."""
    docs = _t(spark, sf_dir, "documents")
    share = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = share.agg(F.sum("n").alias("t"))
    scaled = share.join(F.broadcast(tot)).select(
        "lang",
        "n",
        "t",
        F.round(F.sqrt(F.col("n").cast("double") / F.col("t")), 9)
        .cast("decimal(18,9)")
        .alias("s"),
    )
    z = scaled.agg(F.sum("s").alias("z"))
    return (
        scaled.join(F.broadcast(z))
        .select(
            "lang",
            F.col("n").cast("bigint").alias("n_docs"),
            F.round(F.col("n").cast("double") / F.col("t"), 6).alias("raw_share"),
            F.round(
                F.col("s").cast("double") / F.col("z").cast("double"), 6
            ).alias("temperature_weight"),
        )
        .orderBy("lang")
    )


@register(
    "quality_dup_contingency",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
             {_NB_WORDS} AS ws
      FROM documents WHERE trim(text) != ''),
    dup AS (
      SELECT b.doc_id,
             CASE WHEN b.doc_id = MIN(b2.doc_id) THEN 0 ELSE 1 END AS is_dup
      FROM base b JOIN base b2 ON b2.norm = b.norm
      GROUP BY b.doc_id),
    q AS (
      SELECT doc_id,
             CASE WHEN len(ws) BETWEEN 20 AND 100000
                   AND 3 * len(ws) <= len(list_aggregate(ws, 'string_agg', ''))
                   AND len(list_aggregate(ws, 'string_agg', '')) <= 10 * len(ws)
                  THEN 1 ELSE 0 END AS quality_ok
      FROM base),
    cells AS (
      SELECT SUM(CASE WHEN quality_ok = 1 AND is_dup = 1 THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN quality_ok = 1 AND is_dup = 0 THEN 1 ELSE 0 END) AS b,
             SUM(CASE WHEN quality_ok = 0 AND is_dup = 1 THEN 1 ELSE 0 END) AS c,
             SUM(CASE WHEN quality_ok = 0 AND is_dup = 0 THEN 1 ELSE 0 END) AS d
      FROM q JOIN dup USING (doc_id))
    SELECT CAST(a AS BIGINT) AS hq_dup, CAST(b AS BIGINT) AS hq_unique,
           CAST(c AS BIGINT) AS lq_dup, CAST(d AS BIGINT) AS lq_unique,
           ROUND(CASE WHEN b * c = 0 THEN NULL
                 ELSE (CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c) END, 6)
             AS odds_ratio
    FROM cells
    """,
)
def quality_dup_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does exact-dup removal preferentially discard low-quality text?
    The 2x2 contingency of (quality gate pass, duplicate-copy flag) with
    the odds ratio — the curation-policy sanity check before coupling
    dedup and quality filters. All integer cells; one final ratio."""
    docs = _t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    ws = F.split(norm, " ")
    base = docs.select("doc_id", norm.alias("norm"), ws.alias("ws"))
    canon = base.groupBy("norm").agg(F.min("doc_id").alias("keep_id"))
    dup = base.join(canon, "norm").select(
        "doc_id",
        F.when(F.col("doc_id") == F.col("keep_id"), 0).otherwise(1).alias("is_dup"),
    )
    n = F.size("ws")
    total_chars = F.length(F.concat_ws("", F.col("ws")))
    q = base.select(
        "doc_id",
        F.when(
            n.between(20, 100000)
            & (3 * n <= total_chars)
            & (total_chars <= 10 * n),
            1,
        )
        .otherwise(0)
        .alias("quality_ok"),
    )
    cells = q.join(dup, "doc_id").agg(
        F.sum(F.when((F.col("quality_ok") == 1) & (F.col("is_dup") == 1), 1).otherwise(0)).alias("a"),
        F.sum(F.when((F.col("quality_ok") == 1) & (F.col("is_dup") == 0), 1).otherwise(0)).alias("b"),
        F.sum(F.when((F.col("quality_ok") == 0) & (F.col("is_dup") == 1), 1).otherwise(0)).alias("c"),
        F.sum(F.when((F.col("quality_ok") == 0) & (F.col("is_dup") == 0), 1).otherwise(0)).alias("d"),
    )
    return cells.select(
        F.col("a").cast("bigint").alias("hq_dup"),
        F.col("b").cast("bigint").alias("hq_unique"),
        F.col("c").cast("bigint").alias("lq_dup"),
        F.col("d").cast("bigint").alias("lq_unique"),
        F.round(
            F.when(
                (F.col("b") * F.col("c")) == 0, F.lit(None).cast("double")
            ).otherwise(
                (F.col("a").cast("double") * F.col("d"))
                / (F.col("b").cast("double") * F.col("c"))
            ),
            6,
        ).alias("odds_ratio"),
    )


@register(
    "dsir_importance_weights",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
      FROM documents),
    feat AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substring(md5(w), 1, 15)) AS BIGINT) % 1024
               AS f,
             COUNT(*) AS n
      FROM toks WHERE w <> '' GROUP BY doc_id, lang, 3),
    ct AS (SELECT f, SUM(n) AS c FROM feat WHERE lang = 'en' GROUP BY f),
    cs AS (SELECT f, SUM(n) AS c FROM feat GROUP BY f),
    tt AS (SELECT COALESCE(SUM(n), 0) AS t FROM feat WHERE lang = 'en'),
    ts AS (SELECT COALESCE(SUM(n), 0) AS t FROM feat),
    terms AS (
      SELECT feat.doc_id, feat.lang, feat.f,
             CAST(feat.n AS DOUBLE) * LN(
               (CAST(COALESCE(ct.c, 0) + 1 AS DOUBLE)
                  / CAST(tt.t + 1024 AS DOUBLE))
               / (CAST(cs.c + 1 AS DOUBLE) / CAST(ts.t + 1024 AS DOUBLE))
             ) AS term
      FROM feat LEFT JOIN ct USING (f) JOIN cs USING (f), tt, ts),
    w AS (
      SELECT doc_id, lang,
             ROUND(list_reduce(list(term ORDER BY f), (a, b) -> a + b), 6)
               AS log_weight
      FROM terms GROUP BY doc_id, lang)
    SELECT doc_id, lang, log_weight
    FROM (SELECT *, ROW_NUMBER() OVER (
            ORDER BY log_weight DESC, doc_id) AS rn FROM w)
    WHERE rn <= 40
    ORDER BY log_weight DESC, doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights for domain-targeted data selection:
    documents score Σ_f n_f · ln(p_target(f)/p_source(f)) over 1024
    hashed unigram features (md5-portable bucket hash, add-1 smoothing),
    with the 'en' slice as the target distribution and the whole corpus
    as source. Top-40 docs by weight. The feature vocabulary is CAPPED
    at 1024 buckets by construction — the hashed-ngram trick that makes
    importance resampling feasible at 100 TB: bucket stats are a
    broadcast-size table no matter how large the corpus, and each doc's
    log-weight folds feature-ascending for bit-stable float sums."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
        ).alias("w"),
    ).filter(F.col("w") != "")
    feat = toks.groupBy(
        "doc_id",
        "lang",
        F.expr("CAST(conv(substring(md5(w),1,15),16,10) AS BIGINT) % 1024").alias(
            "f"
        ),
    ).agg(F.count(F.lit(1)).alias("n"))
    feat = op_cache.reuse(feat)
    ct = (
        feat.filter(F.col("lang") == "en")
        .groupBy("f")
        .agg(F.sum("n").alias("ct_c"))
    )
    cs = feat.groupBy("f").agg(F.sum("n").alias("cs_c"))
    tt = feat.filter(F.col("lang") == "en").agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("tt_t")
    )
    ts = feat.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("ts_t"))
    bucket_stats = (
        cs.join(ct, "f", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(ts))
        .select(
            "f",
            F.log(
                (
                    (F.coalesce(F.col("ct_c"), F.lit(0)) + 1).cast("double")
                    / (F.col("tt_t") + 1024).cast("double")
                )
                / (
                    (F.col("cs_c") + 1).cast("double")
                    / (F.col("ts_t") + 1024).cast("double")
                )
            ).alias("lr"),
        )
    )
    terms = feat.join(F.broadcast(bucket_stats), "f").select(
        "doc_id",
        "lang",
        "f",
        (F.col("n").cast("double") * F.col("lr")).alias("term"),
    )
    w = terms.groupBy("doc_id", "lang").agg(
        F.round(
            F.expr(
                "aggregate(array_sort(collect_list(struct(f, term))), "
                "cast(0 as double), (acc, e) -> acc + e.term)"
            ),
            6,
        ).alias("log_weight")
    )
    return (
        w.orderBy(F.desc("log_weight"), "doc_id")
        .limit(40)
        .select("doc_id", "lang", "log_weight")
        .orderBy(F.desc("log_weight"), "doc_id")
    )


@register(
    "source_contamination_matrix",
    oracle="""
    WITH words AS (
      SELECT source,
             [w FOR w IN string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
              IF w <> ''] AS ws
      FROM documents),
    grams AS (
      SELECT DISTINCT source,
             list_aggregate(ws[i+1:i+8], 'string_agg', ' ') AS g
      FROM words, unnest(range(0, greatest(len(ws) - 7, 0))) AS t(i)),
    totals AS (
      SELECT source, COUNT(*) AS n FROM grams GROUP BY source),
    shared AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS m
      FROM grams a JOIN grams b
        ON a.g = b.g AND a.source <> b.source
      GROUP BY a.source, b.source)
    SELECT s.src_a, s.src_b, CAST(s.m AS BIGINT) AS shared_8grams,
           CAST(ta.n AS BIGINT) AS total_a,
           ROUND(CAST(s.m AS DOUBLE) / CAST(ta.n AS DOUBLE), 6)
             AS contamination_rate,
           CAST(rk AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            ORDER BY CAST(m AS DOUBLE) / CAST((
              SELECT n FROM totals t WHERE t.source = shared.src_a)
              AS DOUBLE) DESC, src_a, src_b) AS rk
          FROM shared) s
    JOIN totals ta ON ta.source = s.src_a
    WHERE rk <= 15
    ORDER BY rank
    """,
)
def source_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for each ordered source pair,
    the fraction of source A's distinct 8-grams that also appear in
    source B — the "who is copying whom" scan that decontamination
    against an eval set doesn't cover (train-train leakage inflates
    dedup-adjusted mixture weights). Top-15 most-contaminated pairs.
    The join runs through the 8-gram inverted index (cost ∝ Σ df²,
    never sources² × docs²), the same shape as the n-gram dedup
    family."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.filter(
            F.split(
                F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
            ),
            lambda x: x != "",
        ).alias("ws"),
    )
    grams = (
        words.select(
            "source",
            F.explode(
                F.expr(
                    "CASE WHEN size(ws) >= 8 THEN "
                    "transform(sequence(1, size(ws) - 7), "
                    "i -> array_join(slice(ws, i, 8), ' ')) "
                    "ELSE array() END"
                )
            ).alias("g"),
        )
        .distinct()
    )
    grams = op_cache.reuse(grams)
    totals = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col("source").alias("src_a"), "g")
    b = grams.select(F.col("source").alias("src_b"), F.col("g").alias("gb"))
    shared = (
        a.join(b, (F.col("g") == F.col("gb")) & (F.col("src_a") != F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    ta = totals.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    scored = shared.join(F.broadcast(ta), "src_a").select(
        "src_a",
        "src_b",
        "m",
        "na",
        (F.col("m").cast("double") / F.col("na").cast("double")).alias("rate"),
    )
    wrk = Window.orderBy(F.desc("rate"), "src_a", "src_b")
    return (
        scored.withColumn("rank", F.row_number().over(wrk))
        .filter(F.col("rank") <= 15)
        .select(
            "src_a",
            "src_b",
            F.col("m").cast("bigint").alias("shared_8grams"),
            F.col("na").cast("bigint").alias("total_a"),
            F.round("rate", 6).alias("contamination_rate"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


@register(
    "theil_inequality_decomposition",
    oracle="""
    WITH cust AS (
      SELECT o.o_custkey AS ck,
             CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS x
      FROM orders o GROUP BY 1),
    tagged AS (
      SELECT r.r_name AS rg, cust.ck, cust.x
      FROM cust
      JOIN customer c ON c.c_custkey = cust.ck
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey),
    per_region AS (
      SELECT rg, COUNT(*) AS ng,
             CAST(ROUND(SUM(CAST(x AS DECIMAL(18,2))), 2) AS DOUBLE) AS xg,
             list_reduce(list(x * LN(x) ORDER BY ck), (a, b) -> a + b)
               AS sg
      FROM tagged GROUP BY rg),
    tot AS (
      SELECT SUM(ng) AS n,
             CAST(ROUND(SUM(CAST(xg AS DECIMAL(18,2))), 2) AS DOUBLE) AS x,
             list_reduce(list(sg ORDER BY rg), (a, b) -> a + b) AS ss
      FROM per_region),
    parts AS (
      SELECT tot.n, tot.x,
             tot.ss / tot.x + LN(CAST(tot.n AS DOUBLE) / tot.x) AS t_tot,
             list_reduce(
               list((p.xg / tot.x)
                    * LN((p.xg / tot.x)
                         * (CAST(tot.n AS DOUBLE) / CAST(p.ng AS DOUBLE)))
                    ORDER BY p.rg),
               (a, b) -> a + b) AS t_between,
             list_reduce(
               list((p.xg / tot.x)
                    * (p.sg / p.xg
                       + LN(CAST(p.ng AS DOUBLE) / p.xg))
                    ORDER BY p.rg),
               (a, b) -> a + b) AS t_within
      FROM per_region p, tot
      GROUP BY tot.n, tot.x, tot.ss)
    SELECT CAST(n AS BIGINT) AS n_customers,
           ROUND(t_tot, 6) AS theil_total,
           ROUND(t_between, 6) AS theil_between,
           ROUND(t_within, 6) AS theil_within,
           ROUND(t_between / t_tot, 6) AS between_share
    FROM parts
    """,
)
def theil_inequality_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of per-customer spend with the exact
    between-region / within-region decomposition (T = B + W) — the
    additive-decomposable inequality measure Gini can't give you: how
    much of global spend inequality is regional vs intra-regional.
    Per-customer spends are exact decimals; the entropy terms x*ln(x)
    fold in customer-key order within each region and region terms fold
    in region-name order, so every double sum is sequence-pinned. Shape:
    one fact hash-agg, three broadcast dimension joins, five-row
    scalar algebra."""
    d = lambda e: e.cast("double")  # noqa: E731
    cust = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
            .cast("double")
            .alias("x")
        )
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    tagged = (
        cust.join(c, cust.ck == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("r_name").alias("rg"), "ck", "x")
    )
    per_region = tagged.groupBy("rg").agg(
        F.count(F.lit(1)).alias("ng"),
        F.round(F.sum(F.col("x").cast(_DEC)), 2).cast("double").alias("xg"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ck", (F.col("x") * F.log("x")).alias("v"))
                    )
                ),
                lambda s: s["v"],
            ),
            F.lit(0.0).cast("double"),
            lambda a, x: a + x,
        ).alias("sg"),
    )
    # per_region (5 rows) feeds the grand-total aggregate AND the
    # per-region term projection — materialize once so the per-customer
    # hash-agg + dimension joins run a single time per invocation
    per_region = op_cache.checkpoint(per_region)
    fold_by_rg = lambda colname: F.aggregate(  # noqa: E731
        F.transform(
            F.array_sort(F.collect_list(F.struct("rg", F.col(colname)))),
            lambda s: s[colname],
        ),
        F.lit(0.0).cast("double"),
        lambda a, x: a + x,
    )
    tot = per_region.agg(
        F.sum("ng").alias("n"),
        F.round(F.sum(F.col("xg").cast(_DEC)), 2).cast("double").alias("x"),
        fold_by_rg("sg").alias("ss"),
    )
    pr = per_region.crossJoin(F.broadcast(tot))
    parts = (
        pr.select(
            "n",
            "x",
            "ss",
            "rg",
            (
                (F.col("xg") / F.col("x"))
                * F.log(
                    (F.col("xg") / F.col("x"))
                    * (d(F.col("n")) / d(F.col("ng")))
                )
            ).alias("bterm"),
            (
                (F.col("xg") / F.col("x"))
                * (
                    F.col("sg") / F.col("xg")
                    + F.log(d(F.col("ng")) / F.col("xg"))
                )
            ).alias("wterm"),
        )
        .groupBy("n", "x", "ss")
        .agg(
            fold_by_rg("bterm").alias("t_between"),
            fold_by_rg("wterm").alias("t_within"),
        )
        .select(
            "n",
            (
                F.col("ss") / F.col("x")
                + F.log(d(F.col("n")) / F.col("x"))
            ).alias("t_tot"),
            "t_between",
            "t_within",
        )
    )
    return parts.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round("t_tot", 6).alias("theil_total"),
        F.round("t_between", 6).alias("theil_between"),
        F.round("t_within", 6).alias("theil_within"),
        F.round(F.col("t_between") / F.col("t_tot"), 6).alias("between_share"),
    )


@register("em_gaussian_mixture_1d", oracle=_em_oracle())
def em_gaussian_mixture_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component 1-D Gaussian mixture fit to order totals by three
    EM iterations — run entirely on the $1000-bucket HISTOGRAM of the
    data, which is the right 100 TB shape: the E and M steps consume
    only (bin center, count) sufficient statistics, so the fact table is
    touched once by a hash-agg and the EM recursion is a constant-size
    fold. Initialization is moment-based (mean +/- sd, equal weights,
    pooled variance from exact decimal sums); component-2 moments come
    from the complement of the param-independent bin totals, halving the
    inner folds. The Spark aggregate() step and the oracle's recursive
    CTE are generated from the SAME expression fragments, so every
    EXP/SQRT/divide happens in identical order. Components are reported
    low/high by mean with a pooled-sd separation score."""
    orders = _t(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast(_DEC)
    bins = orders.groupBy(
        F.expr(
            "CAST(FLOOR(o_totalprice / CAST(1000 AS DOUBLE)) AS BIGINT)"
        ).alias("b")
    ).agg(F.count(F.lit(1)).alias("c"))
    blt = bins.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(b, c))), "
            "s -> named_struct("
            "'x', (CAST(s.b AS DOUBLE) + CAST(0.5 AS DOUBLE))"
            " * CAST(1000 AS DOUBLE), 'c', s.c))"
        ).alias("bl")
    )
    mo = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(dec), 2).cast("double").alias("s"),
        F.round(F.sum(dec * dec), 0).cast("double").alias("q"),
    )
    cons = mo.crossJoin(F.broadcast(blt)).selectExpr(
        "n",
        "CAST(n AS DOUBLE) AS nd",
        "s / CAST(n AS DOUBLE) AS m",
        "q / CAST(n AS DOUBLE)"
        " - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)) AS v",
        "bl",
        "aggregate(transform(bl, r -> r.c * r.x), CAST(0 AS DOUBLE), "
        "(a, t) -> a + t) AS sxc",
        "aggregate(transform(bl, r -> r.c * r.x * r.x), CAST(0 AS DOUBLE), "
        "(a, t) -> a + t) AS sqc",
    )
    f = _em_fragments(
        "acc",
        "aggregate(transform(bl, r -> ",
        "), CAST(0 AS DOUBLE), (a, t) -> a + t)",
    )
    state = (
        "named_struct('w', CAST(0.5 AS DOUBLE), 'mu1', m - SQRT(v), "
        "'v1', v, 'mu2', m + SQRT(v), 'v2', v)"
    )
    step = (
        "(acc, it) -> named_struct("
        f"'w', {f['w']}, 'mu1', {f['mu1']}, 'v1', {f['v1']}, "
        f"'mu2', {f['mu2']}, 'v2', {f['v2']})"
    )
    em = cons.select(
        "n",
        F.expr(f"aggregate(sequence(1, 3), {state}, {step})").alias("e"),
    )
    return em.selectExpr(
        "CAST(n AS BIGINT) AS n_orders",
        "ROUND(CASE WHEN e.mu1 <= e.mu2 THEN e.w"
        " ELSE CAST(1 AS DOUBLE) - e.w END, 6) AS weight_low",
        "ROUND(CASE WHEN e.mu1 <= e.mu2 THEN e.mu1 ELSE e.mu2 END, 2)"
        " AS mu_low",
        "ROUND(SQRT(CASE WHEN e.mu1 <= e.mu2 THEN e.v1 ELSE e.v2 END), 2)"
        " AS sigma_low",
        "ROUND(CASE WHEN e.mu1 <= e.mu2 THEN e.mu2 ELSE e.mu1 END, 2)"
        " AS mu_high",
        "ROUND(SQRT(CASE WHEN e.mu1 <= e.mu2 THEN e.v2 ELSE e.v1 END), 2)"
        " AS sigma_high",
        "ROUND(ABS(e.mu2 - e.mu1)"
        " / SQRT((e.v1 + e.v2) / CAST(2 AS DOUBLE)), 6) AS separation",
    )


__all__ = [
    'doc_repetition_3gram',
    'pii_scrub_stats',
    'c4_quality_filter',
    'domain_mixture_weights',
    'sequence_packing_stats',
    'curriculum_quality_bins',
    'corpus_summary_scorecard',
    'gopher_quality_rules',
    'training_corpus_pipeline',
    'packing_nfd_bound',
    'mixture_temperature_weights',
    'quality_dup_contingency',
    'dsir_importance_weights',
    'source_contamination_matrix',
    'theil_inequality_decomposition',
    'em_gaussian_mixture_1d',
]
