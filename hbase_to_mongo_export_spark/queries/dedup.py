"""dedup queries (mechanically split from the original queries.py monolith;
bodies verbatim, shared registry in _core)."""

from ._core import *  # noqa: F401,F403



# ---------------------------------------------------------------------------
# Training-data pipeline operators (documents / embeddings)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_documents",
    oracle="""
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
    FROM documents GROUP BY 1 ORDER BY fp
    """,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup_mod.exact_dedup(docs, "doc_id", "text").orderBy("fp")


@register(
    "dedup_ngram_jaccard_pairs",
    oracle="""
    WITH sh AS (
      SELECT doc_id, lang,
             list_distinct([list_aggregate(words[i:i+2], 'string_agg', ' ')
                            FOR i IN range(1, len(words) - 1)]) AS shingles
      FROM (SELECT doc_id, lang,
                   string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS words
            FROM documents)
      WHERE len(words) >= 3)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
          len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.2
    ORDER BY id_a, id_b
    """,
)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, blocked by language."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_mod.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, block_col="lang"
    ).orderBy("id_a", "id_b")


@register("embedding_near_dup_pairs", oracle=_neardup_oracle(threshold=0.2))
def embedding_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH-bucketed cosine near-dup pairs, fully value-checked:
    the deterministic hyperplanes make the bucketing — not just the verify
    step — reproducible in the DuckDB oracle. Threshold 0.2 (not a
    production 0.9) because the synthetic embeddings are near-orthogonal —
    at 0.9 both engines return zero rows and the check proves nothing."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return sim_mod.embedding_near_dup_pairs(emb, dim=dim, threshold=0.2).orderBy(
        "id_a", "id_b"
    )


@register_demo("winnowing_fingerprints_xxhash")  # xxhash64-valued: engine-
# specific hash, so no cross-engine value oracle can exist; exact semantics
# verified in tests/test_operators.py vs a Python model. The driver-gated
# name `winnowing_fingerprints` is the md5-portable pipeline with a full
# DuckDB value oracle (see its registration below).
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint selection over the documents table."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_mod.winnow_fingerprints(docs, "doc_id", "text").orderBy(
        "doc_id", "fingerprint"
    )


@register(
    "dedup_cluster_components",
    oracle="""
    WITH RECURSIVE
    sh AS (
      SELECT doc_id, lang,
             list_distinct([list_aggregate(words[i:i+2], 'string_agg', ' ')
                            FOR i IN range(1, len(words) - 1)]) AS shingles
      FROM (SELECT doc_id, lang,
                   string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS words
            FROM documents)
      WHERE len(words) >= 3),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
            len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.2),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
    SELECT component AS cluster_id, COUNT(*) AS size
    FROM comp GROUP BY component
    ORDER BY size DESC, cluster_id
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: ngram-Jaccard pairs (>= 0.2, lang-blocked) fed
    into min-label-propagation connected components. Integer-only labels
    make the result bit-exact against DuckDB's recursive-CTE transitive
    closure. This is the dedup end-game: pick one representative per
    cluster instead of dropping pairwise."""
    from ..streaming.stateful import _scoped_shuffle_partitions

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_mod.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, block_col="lang"
    )
    # the label-propagation rounds execute eagerly inside the call; scope
    # the shuffle width so each round doesn't pay 200-partition overhead
    # on a gate-sized graph
    with _scoped_shuffle_partitions(spark, 32):
        comp = dedup_mod.connected_components(pairs, "id_a", "id_b")
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("size"))
        .select(F.col("component").alias("cluster_id"), "size")
        .orderBy(F.col("size").desc(), "cluster_id")
    )


# ---------------------------------------------------------------------------
# Sub-document dedup + corpus statistics (training-pipeline breadth)
# ---------------------------------------------------------------------------


@register(
    "chunk_dedup_20word",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
               AS words
      FROM documents
    ), chunks AS (
      SELECT doc_id,
             md5(list_aggregate(words[i * 20 + 1 : i * 20 + 20], 'string_agg', ' '))
               AS chunk_hash
      FROM w, LATERAL (SELECT UNNEST(range(0, len(words) // 20)) AS i) g
    )
    SELECT chunk_hash, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM chunks
    GROUP BY chunk_hash
    HAVING COUNT(*) > 1
    ORDER BY n_occurrences DESC, chunk_hash
    LIMIT 50
    """,
)
def chunk_dedup_20word(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup (the Spark-expressible variant of
    suffix-array substring dedup a la Lee et al. 2022): documents are cut
    into complete non-overlapping 20-word chunks, each chunk is hashed,
    and chunks occurring more than once corpus-wide are surfaced. The
    chunking is a narrow projection (sequence + transform + slice, all
    codegen); only (hash, doc_id) pairs shuffle — 24 bytes per chunk
    regardless of document size, so the agg holds at 100 TB."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    k = F.floor(F.size(words) / F.lit(20)).cast("int")
    chunk_hashes = F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.md5(F.concat_ws(" ", F.slice(words, i * 20 + 1, 20))),
    )
    return (
        docs.filter(k > 0)
        .select(F.col("doc_id"), F.explode(chunk_hashes).alias("chunk_hash"))
        .groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") > 1)
        .orderBy(F.col("n_occurrences").desc(), "chunk_hash")
        .limit(50)
    )


@register(
    "dedup_rate_by_source",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
             AS n_unique,
           ROUND(1.0 - CAST(COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS DOUBLE)
                 / COUNT(*), 6) AS dup_rate
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication-rate report (the go/no-go metric a crawl
    pipeline computes before choosing dedup strategy): docs vs distinct
    normalized fingerprints per source. Single hash-aggregate; the
    distinct count is again two-stage partial agg on (source, md5) —
    128 bits per distinct doc on the wire."""
    docs = _t(spark, sf_dir, "documents")
    fp = tx.fingerprint(F.col("text"))
    return (
        docs.select("source", fp.alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
        )
        .withColumn(
            "dup_rate",
            F.round(
                F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_docs"), 6
            ),
        )
        .orderBy("source")
    )


@register(
    "decontamination_8gram_overlap",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
               AS b,
             string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
               AS words
      FROM documents
    ), grams AS (
      SELECT doc_id, b,
             UNNEST(list_distinct([list_aggregate(words[i:i+7], 'string_agg', ' ')
                                   FOR i IN range(1, len(words) - 6)])) AS g
      FROM d WHERE len(words) >= 8
    ),
    test_g AS (SELECT DISTINCT g FROM grams WHERE b < 5),
    hits AS (
      SELECT t.doc_id, t.g
      FROM grams t JOIN test_g ON t.g = test_g.g
      WHERE t.b >= 5
    )
    SELECT doc_id, COUNT(DISTINCT g) AS shared_8grams
    FROM hits
    GROUP BY doc_id
    HAVING COUNT(DISTINCT g) >= 3
    ORDER BY shared_8grams DESC, doc_id
    """,
)
def decontamination_8gram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Lee-et-al. n-gram protocol):
    flag training documents sharing >= 3 distinct 8-grams with the held-
    out slice (a deterministic 5% md5-bucket split, so the 'test set' is
    reproducible). The test side's distinct 8-grams are a bounded set
    that joins against the training side's inverted 8-gram index — the
    same Σ df² cost model as n-gram dedup, with AQE handling hot
    boilerplate grams. Swap the equi-join for a bloom-filter prefilter
    when the test set outgrows broadcast range."""
    docs = _t(spark, sf_dir, "documents")
    from ..operators.dedup import word_ngrams

    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100
    )
    grams = (
        docs.select(
            "doc_id",
            bucket.alias("b"),
            F.explode(F.array_distinct(word_ngrams(F.col("text"), 8))).alias("g"),
        )
    )
    test_g = grams.filter(F.col("b") < 5).select("g").distinct()
    return (
        grams.filter(F.col("b") >= 5)
        .join(test_g, "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("shared_8grams"))
        .filter(F.col("shared_8grams") >= 3)
        .orderBy(F.col("shared_8grams").desc(), "doc_id")
    )


@register("dedup_minhash_lsh_pairs", oracle=_minhash_portable_oracle())
@register("dedup_minhash_lsh_pairs_portable", oracle=_minhash_portable_oracle())
def dedup_minhash_portable_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with the md5-portable hash — every stage
    (shingle hash, 64 XOR-permutation mins, 16-band bucketing, candidate
    self-join, exact-Jaccard verify) value-checked against DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_mod.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=16, threshold=0.2,
        hash_fn="md5",
    ).orderBy("id_a", "id_b")


@register("dedup_simhash_pairs", oracle=_simhash_portable_oracle())
@register("dedup_simhash_pairs_portable", oracle=_simhash_portable_oracle())
def dedup_simhash_portable_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the md5-portable hash — per-token bit
    votes, 60-bit signature, 4-band pigeonhole blocking, and Hamming
    verification all value-checked against DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_mod.simhash_pairs(
        docs, "doc_id", "text", max_hamming=3, hash_fn="md5"
    ).orderBy("id_a", "id_b")


@register("winnowing_fingerprints", oracle=_winnow_portable_oracle())
@register("winnowing_fingerprints_portable", oracle=_winnow_portable_oracle())
def winnowing_portable_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints with the md5-portable hash — k-gram
    rolling selection value-checked against a DuckDB window-min. The
    xxhash64-valued scale path stays available as
    ``winnowing_fingerprints_xxhash`` (rows-only: hash values are
    JVM-specific, semantics pinned in tests/test_operators.py)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_mod.winnow_fingerprints(
        docs, "doc_id", "text", hash_fn="md5"
    ).orderBy("doc_id", "fingerprint")


@register("dedup_minhash_estimate_pairs", oracle=_minhash_estimate_oracle())
def dedup_minhash_estimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch calibration: signature-agreement Jaccard estimate vs exact
    Jaccard (+ absolute error) for every LSH candidate pair, md5-portable
    so the whole comparison is value-checked against DuckDB. This is the
    query you run on a sample to pick num_hashes/bands before a 100 TB
    dedup pass."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_mod.minhash_estimate_pairs(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=16, hash_fn="md5"
    ).orderBy("id_a", "id_b")


@register("winnow_overlap_pairs", oracle=_winnow_overlap_oracle())
def winnow_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style document-pair overlap via shared winnowing fingerprints
    (overlap coefficient), md5-portable and fully value-checked."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_mod.winnow_overlap_pairs(
        docs, "doc_id", "text", min_shared=2, hash_fn="md5"
    ).orderBy("id_a", "id_b")


@register(
    "dedup_jaccard_prefix_filter",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct([list_aggregate(words[i:i+2], 'string_agg', ' ')
                            FOR i IN range(1, len(words) - 1)]) AS sh
      FROM (SELECT doc_id,
                   string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS words
            FROM documents)
      WHERE len(words) >= 3),
    scored AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                   6) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    SELECT id_a, id_b, jaccard FROM scored
    WHERE jaccard >= 0.2
    ORDER BY id_a, id_b
    """,
)
def dedup_jaccard_prefix_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard join. The oracle is the
    EXHAUSTIVE all-pairs computation, so this check proves the prefix
    filter loses no qualifying pair — the property that makes it safe to
    deploy at 100 TB where the exhaustive join is impossible."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_mod.jaccard_prefix_filter_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2
    ).orderBy("id_a", "id_b")


@register(
    "dedup_retention_manifest",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct([list_aggregate(words[i:i+2], 'string_agg', ' ')
                            FOR i IN range(1, len(words) - 1)]) AS sh
      FROM (SELECT doc_id,
                   string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS words
            FROM documents)
      WHERE len(words) >= 3),
    edges AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                  6) >= 0.2),
    und AS (SELECT id_a AS u, id_b AS v FROM edges
            UNION SELECT id_b, id_a FROM edges),
    comp AS (
      -- min-label propagation to fixpoint via recursive CTE
      WITH RECURSIVE walk(node, lbl) AS (
        SELECT u, LEAST(u, MIN(v)) FROM und GROUP BY u
        UNION
        SELECT w.node, LEAST(w.lbl, u2.lbl)
        FROM walk w JOIN und e ON e.u = w.node JOIN walk u2 ON u2.node = e.v
      )
      SELECT node, MIN(lbl) AS component FROM walk GROUP BY node),
    labeled AS (
      SELECT d.doc_id,
             COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
    SELECT doc_id, component,
           CASE WHEN doc_id = component THEN 'keep' ELSE 'drop' END AS action
    FROM labeled
    ORDER BY doc_id
    """,
)
def dedup_retention_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup DECISION artifact: exact-Jaccard near-dup edges →
    connected components (min-label propagation) → keep the minimum doc
    id per component, drop the rest — the manifest a corpus-curation
    pipeline actually ships. Oracle: recursive-CTE label propagation in
    DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    edges = dedup_mod.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2
    ).select("id_a", "id_b")
    comp = dedup_mod.connected_components(edges)
    labeled = docs.select("doc_id").join(
        comp, docs.doc_id == comp.id, "left"
    ).select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("component"),
    )
    return labeled.select(
        "doc_id",
        "component",
        F.when(F.col("doc_id") == F.col("component"), "keep")
        .otherwise("drop")
        .alias("action"),
    ).orderBy("doc_id")


@register(
    "dedup_index_cost_estimate",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct([list_aggregate(words[i:i+2], 'string_agg', ' ')
                                   FOR i IN range(1, len(words) - 1)])) AS s
      FROM (SELECT doc_id,
                   string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS words
            FROM documents)
      WHERE len(words) >= 3),
    dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s)
    SELECT (SELECT COUNT(DISTINCT doc_id) FROM sh) AS n_docs,
           COUNT(*) AS n_distinct_shingles,
           CAST(SUM(df) AS BIGINT) AS n_postings,
           CAST(SUM(df * df) AS BIGINT) AS sum_df_sq,
           CAST(MAX(df) AS BIGINT) AS max_df,
           CAST(SUM(df * (df - 1)) // 2 AS BIGINT) AS candidate_pairs
    FROM dfreq
    """,
)
def dedup_index_cost_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index join cost planner: before running an exact
    similarity join at scale, this one aggregate reports the exact cost
    drivers — posting count, Σdf² (the join's row product), the hottest
    shingle, and the implied candidate-pair count Σ df·(df−1)/2. At
    100 TB you run THIS first and pick prefix filtering / stop-listing /
    LSH from its output; all integers, so the plan inputs are exact."""
    docs = _t(spark, sf_dir, "documents")
    sh = dedup_mod._fan_out(docs).select(
        "doc_id",
        F.explode(dedup_mod.word_shingles(F.col("text"), 3)).alias("s"),
    )
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    n_docs = sh.select("doc_id").distinct().agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        dfreq.agg(
            F.count(F.lit(1)).alias("n_distinct_shingles"),
            F.sum("df").cast("bigint").alias("n_postings"),
            F.sum(F.col("df") * F.col("df")).cast("bigint").alias("sum_df_sq"),
            F.max("df").cast("bigint").alias("max_df"),
            F.expr("CAST(SUM(df * (df - 1)) div 2 AS BIGINT)").alias(
                "candidate_pairs"
            ),
        )
        .join(F.broadcast(n_docs))
        .select(
            "n_docs", "n_distinct_shingles", "n_postings", "sum_df_sq",
            "max_df", "candidate_pairs",
        )
    )


@register(
    "cdc_chunk_dedup",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest({_NB_WORDS}) AS w,
             unnest(range(1, len({_NB_WORDS}) + 1)) AS pos
      FROM documents WHERE trim(text) != ''),
    flagged AS (
      SELECT doc_id, w, pos,
             CASE WHEN ({_MD5H.format(col="w")}) % 4 = 0 THEN 1 ELSE 0 END AS b
      FROM words),
    chunked AS (
      SELECT doc_id, w, pos,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - b
               AS chunk_id
      FROM flagged),
    chunks AS (
      SELECT doc_id, chunk_id,
             string_agg(w, ' ' ORDER BY pos) AS chunk,
             COUNT(*) AS n_words
      FROM chunked GROUP BY doc_id, chunk_id)
    SELECT COUNT(*) AS n_chunks,
           COUNT(DISTINCT chunk) AS n_distinct_chunks,
           ROUND(CAST(COUNT(*) - COUNT(DISTINCT chunk) AS DOUBLE) / COUNT(*), 6)
             AS dup_chunk_rate,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(MAX(n_words) AS BIGINT) AS max_chunk_words
    FROM chunks
    """,
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup: chunk boundaries fall AFTER any word
    whose md5-derived hash ≡ 0 (mod 4) — so chunk edges depend only on
    content, and an insertion early in a document cannot shift every later
    chunk (the failure mode of fixed-size chunking). Chunks are rebuilt per
    document with one window pass (running boundary count), then exact-
    deduplicated by value. This is the rsync/LBFS chunking idea applied to
    corpus dedup; at 100 TB the only shuffle is the final chunk hash-agg."""
    docs = _t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    words = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    tok = docs.select("doc_id", F.posexplode(words).alias("pos0", "w")).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "w"
    )
    flagged = tok.withColumn(
        "b",
        F.when(
            F.expr(dedup_mod.PORTABLE_HASH_SQL.format(col="w")) % 4 == 0, 1
        ).otherwise(0),
    )
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = flagged.withColumn("chunk_id", F.sum("b").over(wrun) - F.col("b"))
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
        ).alias("chunk"),
        F.count(F.lit(1)).alias("n_words"),
    )
    return chunks.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("chunk").alias("n_distinct_chunks"),
        F.round(
            (F.count(F.lit(1)) - F.countDistinct("chunk")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("dup_chunk_rate"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.max("n_words").cast("bigint").alias("max_chunk_words"),
    )


@register(
    "dedup_threshold_sweep",
    oracle="""
    WITH sh AS (
      SELECT doc_id, lang,
             list_distinct([list_aggregate(words[i:i+2], 'string_agg', ' ')
                            FOR i IN range(1, len(words) - 1)]) AS shingles
      FROM (SELECT doc_id, lang,
                   string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS words
            FROM documents)
      WHERE len(words) >= 3),
    pairs AS (
      SELECT CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
             len(list_distinct(list_concat(a.shingles, b.shingles))) AS j
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id),
    th AS (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5]) AS threshold)
    SELECT ROUND(threshold, 2) AS threshold,
           CAST(SUM(CASE WHEN j >= threshold THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pairs
    FROM th, pairs
    GROUP BY threshold ORDER BY threshold
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup tuning curve: how many n-gram-Jaccard pairs survive each
    candidate threshold in {0.1..0.5} — the dial you set before a 100 TB
    dedup pass (too low deletes content, too high leaves dupes). One
    blocked pair join scored once; the five thresholds are conditional
    sums over the same scores, not five joins."""
    docs = _t(spark, sf_dir, "documents")
    # threshold = the lowest sweep point: pairs below it can't contribute
    # to any sweep bucket, and the inverted-index path needs a positive cut
    pairs = dedup_mod.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.1, block_col="lang"
    )
    th = F.array(*[F.lit(x) for x in (0.1, 0.2, 0.3, 0.4, 0.5)])
    return (
        pairs.select(F.col("jaccard").alias("j"))
        .crossJoin(F.broadcast(
            _t(spark, sf_dir, "region").limit(1).select(
                F.explode(th).alias("threshold")
            )
        ))
        .groupBy("threshold")
        .agg(
            F.sum(F.when(F.col("j") >= F.col("threshold"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pairs")
        )
        .select(F.round("threshold", 2).alias("threshold"), "n_pairs")
        .orderBy("threshold")
    )


@register(
    "dedup_pair_explanations",
    oracle="""
    WITH sh AS (
      SELECT doc_id, lang,
             list_distinct([list_aggregate(words[i:i+2], 'string_agg', ' ')
                            FOR i IN range(1, len(words) - 1)]) AS shingles
      FROM (SELECT doc_id, lang,
                   string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS words
            FROM documents)
      WHERE len(words) >= 3)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(a.shingles) AS INT) AS n_shingles_a,
           CAST(len(b.shingles) AS INT) AS n_shingles_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS INT) AS n_shared,
           ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.shingles, b.shingles))), 6)
             AS jaccard
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
          len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.2
    ORDER BY jaccard DESC, id_a, id_b
    LIMIT 10
    """,
)
def dedup_pair_explanations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explainable dedup: the top near-dup pairs with the evidence a
    reviewer needs — each side's shingle count, the shared count, and
    the resulting Jaccard. Auditability is what makes a destructive
    100 TB dedup pass defensible; this is the human-review view over the
    same blocked pair join the dedup operator runs."""
    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        "lang",
        dedup_mod.word_shingles(F.col("text"), 3).alias("shingles"),
    ).filter(F.size("shingles") >= 1)
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union = (
        F.size(F.col("a.shingles")) + F.size(F.col("b.shingles")) - inter
    )
    pairs = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.size(F.col("a.shingles")).cast("int").alias("n_shingles_a"),
            F.size(F.col("b.shingles")).cast("int").alias("n_shingles_b"),
            inter.cast("int").alias("n_shared"),
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
    )
    return pairs.orderBy(F.desc("jaccard"), "id_a", "id_b").limit(10)


@register("dedup_minhash_band_sweep", oracle=_band_sweep_oracle())
def dedup_minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding sensitivity: candidate-pair counts at 8/16/32 bands
    over the SAME 64-hash MinHash signatures — the (bands, rows) dial
    that trades recall against verification cost (more bands → lower
    per-band specificity → more candidates). Signatures are computed once
    and cached; each sweep point re-bands the cached table, so the
    corpus-scale shingle hashing runs once regardless of sweep width."""
    docs = _t(spark, sf_dir, "documents")
    sig = op_cache.reuse(
        dedup_mod._minhash_sig_cols(docs, "doc_id", "text", 3, 64, "md5")
    )
    outs = []
    for b in (8, 16, 32):
        cand = dedup_mod._lsh_candidates(sig, "doc_id", 64, b, "md5")
        outs.append(
            cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"))
            .select(
                F.lit(b).cast("int").alias("bands"),
                F.lit(64 // b).cast("int").alias("rows_per_band"),
                "n_candidate_pairs",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("bands")


@register("dedup_minhash_recall_eval")
def dedup_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the MinHash-LSH near-dup detector against the
    exact n-gram-Jaccard ground truth at the same 0.2 threshold — the
    text-dedup acceptance gate (the companion of the embedding-side
    similarity_lsh_recall_eval). Note the exact pass blocks by language
    while LSH does not, so recall can exceed what banding alone implies;
    the oracle composes the two already-checked pipelines verbatim."""
    docs = _t(spark, sf_dir, "documents")
    # Both pair frames feed TWO consumers each (the hit join + their own
    # count); without materialization the whole inverted-index self-join
    # and the whole banded LSH pipeline would run twice (guide §1.2 —
    # Spark does no cross-branch CSE). The pair frames are node-scale.
    exact = op_cache.checkpoint(
        dedup_mod.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.2, block_col="lang"
        ).select("id_a", "id_b")
    )
    lsh = op_cache.checkpoint(
        dedup_mod.minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_hashes=64, bands=16,
            threshold=0.2, hash_fn="md5",
        ).select(F.col("id_a").alias("la"), F.col("id_b").alias("lb"))
    )
    hit = exact.join(
        lsh, (F.col("id_a") == F.col("la")) & (F.col("id_b") == F.col("lb"))
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh_pairs"))
    n_hit = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_exact.join(F.broadcast(n_lsh))
        .join(F.broadcast(n_hit))
        .select(
            "n_exact_pairs",
            "n_lsh_pairs",
            F.round(
                F.col("n_hit").cast("double") / F.col("n_exact_pairs"), 6
            ).alias("recall"),
        )
    )


@register(
    "dedup_ngram_containment_pairs",
    oracle="""
    WITH sh AS (
      SELECT doc_id, lang,
             list_distinct([list_aggregate(words[i:i+2], 'string_agg', ' ')
                            FOR i IN range(1, len(words) - 1)]) AS shingles
      FROM (SELECT doc_id, lang,
                   string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS words
            FROM documents)
      WHERE len(words) >= 3),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.shingles, b.shingles)) AS inter,
             len(a.shingles) AS sz_a, len(b.shingles) AS sz_b
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.shingles, b.shingles)) > 0)
    SELECT id_a, id_b,
           ROUND(CAST(inter AS DOUBLE) / sz_a, 6) AS containment_ab,
           ROUND(CAST(inter AS DOUBLE) / sz_b, 6) AS containment_ba,
           ROUND(CAST(inter AS DOUBLE) / (sz_a + sz_b - inter), 6) AS jaccard
    FROM pairs
    WHERE ROUND(CAST(inter AS DOUBLE) / sz_a, 6) >= 0.3
       OR ROUND(CAST(inter AS DOUBLE) / sz_b, 6) >= 0.3
    ORDER BY id_a, id_b
    """,
)
def dedup_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment (Broder) — the asymmetric near-dup
    pass that catches a short document embedded in a longer one, which
    symmetric Jaccard scores low. Same lang-blocked inverted-index join
    as the Jaccard pass; emits pairs where either direction >= 0.3."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_mod.ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.3, block_col="lang"
    ).orderBy("id_a", "id_b")


@register("dedup_incremental_index_update")
def dedup_incremental_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL index maintenance: the corpus is split into a base
    (80%, by doc_id) and a delta batch (20%); MinHash signatures are
    computed SEPARATELY for each — the way a daily ingest run only
    signs the new documents — then the banded LSH candidate join and
    exact verify run over the unioned signature table. Because
    signatures are per-document, union-then-band is EXACTLY the
    full-corpus index, and the oracle is literally the full-corpus
    dedup_minhash_lsh_pairs oracle: incremental and batch must agree
    pair for pair. At 100 TB this is the difference between re-signing
    the whole corpus per ingest and signing only the delta."""
    from ..operators.dedup import (
        _lsh_candidates,
        _minhash_sig_cols,
        jaccard,
        word_shingles,
    )

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    cut = (n_docs * 4) // 5
    base = docs.filter(F.col("doc_id") < cut)
    delta = docs.filter(F.col("doc_id") >= cut)
    sig_base = _minhash_sig_cols(base, "doc_id", "text", 3, 64, "md5")
    sig_delta = _minhash_sig_cols(delta, "doc_id", "text", 3, 64, "md5")
    # The banded candidate join consumes sig on BOTH sides — cache the
    # signature table (doc_id + 64 ints, node-scale) so the corpus
    # tokenize+hash pass runs once, the same pattern minhash_lsh_pairs
    # uses (guide §1.2).
    sig = op_cache.reuse(sig_base.unionByName(sig_delta))
    candidates = _lsh_candidates(sig, "doc_id", 64, 16, "md5")
    sh = docs.select(
        F.col("doc_id"), word_shingles(F.col("text"), 3).alias("sh")
    )
    verified = (
        candidates.join(
            sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"),
            "id_a",
        )
        .join(
            sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
    )
    return verified.orderBy("id_a", "id_b")


@register("dedup_lexical_semantic_agreement")
def dedup_lexical_semantic_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-agreement audit between the two near-dup detectors: exact
    n-gram-Jaccard (lexical) vs hyperplane-bucketed embedding cosine
    (semantic) over the id-aligned documents/embeddings corpus — the
    readout a curation team uses to decide whether semantic dedup adds
    anything over lexical on their data (here the synthetic embeddings
    are uncorrelated with the text, so overlap should be near-chance —
    which is itself the correct reading of the report). Composes two
    already-oracled pipelines; all counts integer."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = dedup_mod.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, block_col="lang"
    ).select("id_a", "id_b")
    dim = len(emb.select("embedding").first()[0])
    sem = sim_mod.embedding_near_dup_pairs(emb, dim=dim, threshold=0.2).select(
        F.col("id_a").alias("sa"), F.col("id_b").alias("sb")
    )
    lex = op_cache.reuse(lex)
    sem = op_cache.reuse(sem)
    both = lex.join(
        sem, (F.col("id_a") == F.col("sa")) & (F.col("id_b") == F.col("sb"))
    )
    nl = lex.agg(F.count(F.lit(1)).alias("n_lexical"))
    ns = sem.agg(F.count(F.lit(1)).alias("n_semantic"))
    nb = both.agg(F.count(F.lit(1)).alias("n_both"))
    return (
        nl.crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(nb))
        .select(
            "n_lexical",
            "n_semantic",
            "n_both",
            (F.col("n_lexical") - F.col("n_both")).alias("n_lexical_only"),
            (F.col("n_semantic") - F.col("n_both")).alias("n_semantic_only"),
        )
    )


@register(
    "substring_shingle_pairs",
    oracle="""
    WITH docs AS (
      SELECT doc_id, lower(trim(text)) AS t FROM documents
      WHERE length(trim(text)) >= 40),
    pos AS (
      SELECT doc_id, t,
             unnest(generate_series(1, length(t) - 39, 1)) AS i
      FROM docs),
    sh AS (
      SELECT DISTINCT doc_id,
             CAST('0x' || substr(md5(substr(t, i, 40)), 1, 15) AS BIGINT)
               AS h
      FROM pos),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared_shingles
    FROM pairs WHERE shared >= 20
    ORDER BY doc_a, doc_b
    """,
)
def substring_shingle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring near-dup candidates via character 40-gram
    shingles (stride 1), the dedup flavor of Lee et al.'s
    "Deduplicating Training Data Makes Language Models Better": two
    documents sharing >= 20 distinct 40-char substrings share a long
    verbatim run. Shingles are hashed to the md5-portable 60-bit
    integer immediately (never shuffling the 40-char strings), made
    distinct per doc, and self-joined on the hash — an inverted-index
    equi-join whose cost is sum(df^2) over shared shingles, not
    all-pairs. At 100 TB the hot keys are boilerplate strings; those
    are exactly what AQE skew-split handles, and a df cap (drop
    shingles appearing in > K docs, as the reference-style stop-list)
    bounds the worst key. Threshold >= 20 keeps the output a
    candidate list, with exact verification left to the caller."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.lower(F.trim("text")).alias("t"))
        .filter(F.length("t") >= 40)
    )
    sh = (
        docs.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("t") - 39, F.lit(1))
            ).alias("i"),
            "t",
        )
        .select(
            "doc_id",
            F.conv(
                F.substring(F.md5(F.expr("substring(t, i, 40)")), 1, 15),
                16,
                10,
            )
            .cast("bigint")
            .alias("h"),
        )
        .distinct()
    )
    sh = op_cache.reuse(sh)
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 20)
        .select(
            "doc_a", "doc_b", F.col("shared").cast("bigint").alias("shared_shingles")
        )
        .orderBy("doc_a", "doc_b")
    )


__all__ = [
    'dedup_exact_q',
    'dedup_ngram_jaccard_q',
    'embedding_near_dup_q',
    'winnowing_fingerprints',
    'dedup_cluster_components',
    'chunk_dedup_20word',
    'dedup_rate_by_source',
    'decontamination_8gram_overlap',
    'dedup_minhash_portable_q',
    'dedup_simhash_portable_q',
    'winnowing_portable_q',
    'dedup_minhash_estimate_q',
    'winnow_overlap_q',
    'dedup_jaccard_prefix_filter_q',
    'dedup_retention_manifest',
    'dedup_index_cost_estimate',
    'cdc_chunk_dedup',
    'dedup_threshold_sweep',
    'dedup_pair_explanations',
    'dedup_minhash_band_sweep',
    'dedup_minhash_recall_eval',
    'dedup_ngram_containment_pairs',
    'dedup_incremental_index_update',
    'dedup_lexical_semantic_agreement',
    'substring_shingle_pairs',
]
