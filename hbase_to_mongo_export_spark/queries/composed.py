"""Composed-oracle queries: these interpolate the oracle SQL of earlier
registrations (reading _ORACLES at import time), so they live in the one
module imported last."""

from ._core import *  # noqa: F401,F403



_ORACLES["similarity_lsh_topk"] = _lsh_topk_oracle()


_ORACLES["similarity_lsh_recall_eval"] = f"""
    SELECT ex.query_id,
           CAST(COUNT(*) AS INT) AS n_exact,
           CAST(SUM(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS INT)
             AS n_hit,
           ROUND(SUM(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) /
                 CAST(COUNT(*) AS DOUBLE), 6) AS recall
    FROM ({_ORACLES["similarity_bruteforce_topk"]}) ex
    LEFT JOIN ({_ORACLES["similarity_lsh_topk"]}) ap
      ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
    GROUP BY ex.query_id
    ORDER BY ex.query_id
    """


_ORACLES["embedding_semantic_clusters"] = f"""
    WITH RECURSIVE
    pairs AS (SELECT id_a, id_b FROM ({_ORACLES["embedding_near_dup_pairs"]})),
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
    """


_ORACLES["dedup_minhash_recall_eval"] = f"""
    SELECT (SELECT COUNT(*) FROM ({_ORACLES["dedup_ngram_jaccard_pairs"]}) ex)
             AS n_exact_pairs,
           (SELECT COUNT(*) FROM ({_ORACLES["dedup_minhash_lsh_pairs"]}) ap)
             AS n_lsh_pairs,
           ROUND(
             (SELECT CAST(COUNT(*) AS DOUBLE)
              FROM ({_ORACLES["dedup_minhash_lsh_pairs"]}) ap
              JOIN ({_ORACLES["dedup_ngram_jaccard_pairs"]}) ex
                ON ex.id_a = ap.id_a AND ex.id_b = ap.id_b) /
             (SELECT COUNT(*) FROM ({_ORACLES["dedup_ngram_jaccard_pairs"]}) ex),
             6) AS recall
    """


_ORACLES["split_leakage_audit"] = f"""
    WITH pairs AS ({_ORACLES["dedup_ngram_jaccard_pairs"]}),
    sp AS (
      SELECT doc_id,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80
                  THEN 'train'
                  WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90
                  THEN 'valid' ELSE 'test' END AS split
      FROM documents)
    SELECT sa.split AS split_a, sb.split AS split_b,
           COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END) AS BIGINT)
             AS n_leaky
    FROM pairs p
    JOIN sp sa ON sa.doc_id = p.id_a
    JOIN sp sb ON sb.doc_id = p.id_b
    GROUP BY sa.split, sb.split
    ORDER BY split_a, split_b
    """


_ORACLES["dedup_incremental_index_update"] = _ORACLES["dedup_minhash_lsh_pairs"]


_ORACLES["dedup_lexical_semantic_agreement"] = f"""
    WITH lex AS (SELECT id_a, id_b FROM ({_ORACLES["dedup_ngram_jaccard_pairs"]}) t),
    sem AS (SELECT id_a, id_b FROM ({_ORACLES["embedding_near_dup_pairs"]}) t)
    SELECT (SELECT COUNT(*) FROM lex) AS n_lexical,
           (SELECT COUNT(*) FROM sem) AS n_semantic,
           (SELECT COUNT(*) FROM lex JOIN sem
             ON sem.id_a = lex.id_a AND sem.id_b = lex.id_b) AS n_both,
           (SELECT COUNT(*) FROM lex WHERE NOT EXISTS
             (SELECT 1 FROM sem WHERE sem.id_a = lex.id_a
                                  AND sem.id_b = lex.id_b)) AS n_lexical_only,
           (SELECT COUNT(*) FROM sem WHERE NOT EXISTS
             (SELECT 1 FROM lex WHERE lex.id_a = sem.id_a
                                  AND lex.id_b = sem.id_b)) AS n_semantic_only
    """


__all__ = [
]
