"""Query registry: every operator exposed as (spark callable, oracle SQL).

This is the engine's public correctness surface. Each entry maps a name to
a Spark implementation ``(spark, sf_dir) -> DataFrame`` plus (where SQL-
expressible) an ANSI-SQL string DuckDB runs on the same parquet tables.
Column names are aliased identically on both sides — the driver's compare
sorts columns by name and hashes values.

Determinism rules used throughout:
- money aggregates go through DECIMAL (exact, associative) and are cast
  back to DOUBLE at the end — float sum order can't perturb the hash;
- every ratio/score is rounded; ranking windows always carry a unique
  tiebreaker column;
- timestamps stay in UTC (session timezone pinned in session.py).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd  # noqa: F401 — pandas-UDF type hints resolve here

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as tx
from ..operators import _cache as op_cache
from ..operators import asof as asof_mod
from ..operators import dedup as dedup_mod
from ..operators import graph as graph_mod
from ..operators import multimodal as mm_mod
from ..operators import similarity as sim_mod
from ..operators import skew as skew_mod
from ..sources.catalog import load_table

SparkQuery = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, SparkQuery] = {}
_ORACLES: dict[str, str] = {}
_DEMO_QUERIES: dict[str, SparkQuery] = {}
_REQUIRE_ROWS: set[str] = set()


def register(
    name: str, oracle: str | None = None, require_rows: bool = False
):
    """``require_rows=True`` marks a query whose Spark/oracle comparison is
    only meaningful when the result is non-empty — a 0==0 match would pass
    vacuously (e.g. a hard-coded predicate literal drifting outside the
    data's domain). Consumers of the annotation: the EXTERNAL grading
    driver (which reads the registry), and
    tests/test_queries_oracle.py's sf0.01 DuckDB non-vacuity check —
    the mirror-sf (sf0.001) floor is registry-wide and does not consult
    this flag."""

    def deco(fn: SparkQuery) -> SparkQuery:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        if require_rows:
            _REQUIRE_ROWS.add(name)
        return fn

    return deco


def register_demo(name: str):
    """Registry for queries that are real but inherently un-oracle-able
    (engine-specific hash values, partition-dependent output). They are
    NOT exposed through ``queries()`` — the driver's hard gate samples
    only value-oracled entries — but stay runnable via the CLI and are
    pinned by dedicated pytest model checks."""

    def deco(fn: SparkQuery) -> SparkQuery:
        _DEMO_QUERIES[name] = fn
        return fn

    return deco


def queries() -> dict[str, SparkQuery]:
    return dict(_QUERIES)


def demo_queries() -> dict[str, SparkQuery]:
    return dict(_DEMO_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


def require_rows() -> frozenset[str]:
    """Names whose oracle comparison must be non-empty to count."""
    return frozenset(_REQUIRE_ROWS)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Relational core (SURVEY §2.8 — supplied by Spark, verified vs DuckDB)
# ---------------------------------------------------------------------------

_DEC = "DECIMAL(18,2)"
_DEC4 = "DECIMAL(18,4)"


def _neardup_oracle(dim: int = 64, n_planes: int = 8, threshold: float = 0.9) -> str:
    """Full DuckDB oracle for hyperplane-bucketed embedding near-dup: the
    md5-derived hyperplanes are deterministic Python lists, so they embed
    as SQL literals; dot products are left-to-right ``list_reduce`` folds,
    which match Spark's ``F.aggregate`` fold bit-for-bit."""
    planes = sim_mod._hyperplanes(dim, n_planes, seed="neardup")
    plane_cols = ",\n             ".join(
        "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[] AS p" + str(i)
        for i, p in enumerate(planes)
    )

    def dot(vec: str, plane: str) -> str:
        return (
            f"list_reduce([CAST({vec}[i] AS DOUBLE) * {plane}[i] "
            f"FOR i IN range(1, len({vec})+1)], (acc, x) -> acc + x)"
        )

    def vdot(va: str, vb: str) -> str:
        return (
            f"list_reduce([CAST({va}[i] AS DOUBLE) * CAST({vb}[i] AS DOUBLE) "
            f"FOR i IN range(1, len({va})+1)], (acc, x) -> acc + x)"
        )

    bucket = " + ".join(
        f"(CASE WHEN {dot('v', f'p{i}')} >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    return f"""
    WITH planes AS (
      SELECT {plane_cols}),
    base AS (
      SELECT vec_id, embedding AS v,
             {bucket} AS bucket
      FROM embeddings, planes),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND({vdot('a.v', 'b.v')} /
                   (sqrt({vdot('a.v', 'a.v')}) * sqrt({vdot('b.v', 'b.v')})),
                   6) AS cosine
      FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, cosine FROM pairs
    WHERE cosine >= CAST({threshold} AS DOUBLE)
    ORDER BY id_a, id_b
    """


# ---------------------------------------------------------------------------
# Multimodal columns as first-class queries (operators/multimodal.py):
# binary payload + typed metadata, decoded via Arrow-batched mapInPandas.
# ---------------------------------------------------------------------------


def _media_from_documents(spark: SparkSession, sf_dir: str, media_type: str,
                          fmt: str, modulus: int, residue: int) -> DataFrame:
    """Deterministic media table derived from `documents`: text bytes act
    as the opaque payload (real pipelines carry JPEG/WAV bytes here), and
    the metadata struct is computed from doc_id so oracles can reproduce
    it. duration_ms = ((doc_id % 5) + 1) * 3000 for video rows."""
    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % modulus) == residue
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (((F.col("doc_id") % 5) + 1) * 3000).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("uri"),
        ).alias("meta"),
    )


_SQL_CTE_TOP_CUSTOMERS = """
WITH revenue AS (
    SELECT o_custkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_spend,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
), ranked AS (
    SELECT o_custkey, total_spend, n_orders,
           ROW_NUMBER() OVER (ORDER BY total_spend DESC, o_custkey) AS rn
    FROM revenue
)
SELECT r.rn, r.o_custkey, c.c_name, r.total_spend, r.n_orders
FROM ranked r JOIN customer c ON c.c_custkey = r.o_custkey
WHERE r.rn <= 25
ORDER BY r.rn
"""


_LATERAL_TOP_ORDER = """
SELECT c.c_custkey, c.c_name, t.o_orderkey, t.top_price
FROM customer c, LATERAL (
    SELECT o_orderkey, o_totalprice AS top_price
    FROM orders o
    WHERE o.o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 1
) t
WHERE c.c_custkey < 100
ORDER BY c.c_custkey
"""


def _rp_weight_sql(d: int) -> str:
    # deterministic pseudo-random weight: exact integer arithmetic then one
    # division — bit-identical across engines
    return f"(CAST((({d} * 64 + (j - 1)) * 37) % 7 - 3 AS DOUBLE) / CAST(3 AS DOUBLE))"


_RP_ORACLE = "SELECT vec_id, " + ", ".join(
    f"""ROUND(list_reduce([CAST(embedding[j] AS DOUBLE) * {_rp_weight_sql(d)}
                 FOR j IN range(1, 65)], (a, b) -> a + b), 6) AS p{d}"""
    for d in range(4)
) + " FROM embeddings ORDER BY vec_id"


# ---------------------------------------------------------------------------
# Portable-hash dedup twins: the MinHash-LSH / SimHash / winnowing pipelines
# re-run with the md5-derived 60-bit hash (operators/dedup.py::hash64) so the
# ENTIRE pipeline — shingling, signature, banding, candidate join, verify —
# is reproducible in ANSI SQL and gets a full DuckDB value-hash oracle
# instead of a rows-only check. xxhash64 remains the production fast path;
# these twins pin the algorithm, the fast path pins the plan.
# ---------------------------------------------------------------------------

_MD5H = "CAST(concat('0x', substring(md5({col}), 1, 15)) AS BIGINT)"
_WORDS_SQL = (
    "string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"
)


def _minhash_oracle_ctes(num_hashes: int = 64, bands: int = 16) -> str:
    """Shared CTE prefix for the md5-portable MinHash oracles: shingling,
    per-shingle hash, 64 XOR-permutation min signature columns, band
    bucketing, and distinct LSH candidate pairs."""
    rows = num_hashes // bands
    masks = dedup_mod._xor_params(num_hashes)
    mins = ",\n             ".join(
        f"MIN(xor(h, CAST({m} AS BIGINT))) AS m{i}" for i, m in enumerate(masks)
    )
    buckets = ",\n                     ".join(
        "concat_ws(',', " + ", ".join(f"m{b * rows + r}" for r in range(rows)) + ")"
        for b in range(bands)
    )
    return f"""docs_sh AS (
      SELECT doc_id,
             list_distinct([list_aggregate(words[i:i+2], 'string_agg', ' ')
                            FOR i IN range(1, len(words) - 1)]) AS sh
      FROM (SELECT doc_id, {_WORDS_SQL} AS words FROM documents)
      WHERE len(words) >= 3),
    hashes AS (
      SELECT doc_id, {_MD5H.format(col="s")} AS h
      FROM (SELECT doc_id, unnest(sh) AS s FROM docs_sh)),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM hashes GROUP BY doc_id),
    banded AS (
      SELECT doc_id, unnest(range(0, {bands})) AS band,
             unnest([{buckets}]) AS bucket
      FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"""


_JACCARD_SQL = (
    "ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /"
    " (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6)"
)


def _minhash_portable_oracle(
    num_hashes: int = 64, bands: int = 16, threshold: float = 0.2
) -> str:
    return f"""
    WITH {_minhash_oracle_ctes(num_hashes, bands)},
    scored AS (
      SELECT c.id_a, c.id_b,
             {_JACCARD_SQL} AS jaccard
      FROM cand c
      JOIN docs_sh sa ON sa.doc_id = c.id_a
      JOIN docs_sh sb ON sb.doc_id = c.id_b)
    SELECT id_a, id_b, jaccard FROM scored
    WHERE jaccard >= {threshold}
    ORDER BY id_a, id_b
    """


def _simhash_portable_oracle(max_hamming: int = 3, bands: int = 4) -> str:
    # md5-derived hashes are 60-bit, so signature bits 60..63 are always 0
    # (votes are all -1) — only bits 0..59 are generated here.
    votes = ",\n             ".join(
        f"SUM(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(60)
    )
    sig = " +\n                 ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({2 ** b} AS BIGINT) ELSE 0 END)"
        for b in range(60)
    )
    chunk_bits = 64 // bands
    cvs = ", ".join(
        f"((simhash >> {i * chunk_bits}) & {(1 << chunk_bits) - 1})"
        for i in range(bands)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_WORDS_SQL}) AS tok FROM documents),
    hashed AS (
      SELECT doc_id, {_MD5H.format(col="tok")} AS h FROM toks),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM hashed GROUP BY doc_id),
    sig AS (
      SELECT doc_id,
             {sig} AS simhash
      FROM votes),
    chunked AS (
      SELECT doc_id, simhash, unnest(range(0, {bands})) AS ci,
             unnest([{cvs}]) AS cv
      FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sig_a, b.simhash AS sig_b
      FROM chunked a JOIN chunked b
        ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}
    ORDER BY id_a, id_b
    """


def _winnow_portable_oracle(k: int = 5, window: int = 4) -> str:
    return f"""
    WITH words AS (
      SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(range(0, greatest(len(ws) - {k - 1}, 0))) AS pos,
             unnest([list_aggregate(ws[i+1:i+{k}], 'string_agg', ' ')
                     FOR i IN range(0, greatest(len(ws) - {k - 1}, 0))]) AS shingle
      FROM words),
    hashed AS (
      SELECT doc_id, pos, {_MD5H.format(col="shingle")} AS h FROM sh)
    SELECT DISTINCT doc_id,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING)
             AS fingerprint
    FROM hashed
    ORDER BY doc_id, fingerprint
    """


def _minhash_estimate_oracle(num_hashes: int = 64, bands: int = 16) -> str:
    matches = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return f"""
    WITH {_minhash_oracle_ctes(num_hashes, bands)},
    est AS (
      SELECT c.id_a, c.id_b,
             ROUND(CAST({matches} AS DOUBLE) /
                   CAST({num_hashes} AS DOUBLE), 6) AS est_jaccard
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b),
    scored AS (
      SELECT e.id_a, e.id_b, e.est_jaccard,
             {_JACCARD_SQL} AS jaccard
      FROM est e
      JOIN docs_sh sa ON sa.doc_id = e.id_a
      JOIN docs_sh sb ON sb.doc_id = e.id_b)
    SELECT id_a, id_b, est_jaccard, jaccard,
           ROUND(ABS(est_jaccard - jaccard), 6) AS abs_err
    FROM scored
    ORDER BY id_a, id_b
    """


def _winnow_overlap_oracle(
    k: int = 5, window: int = 4, min_shared: int = 2
) -> str:
    return f"""
    WITH words AS (
      SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(range(0, greatest(len(ws) - {k - 1}, 0))) AS pos,
             unnest([list_aggregate(ws[i+1:i+{k}], 'string_agg', ' ')
                     FOR i IN range(0, greatest(len(ws) - {k - 1}, 0))]) AS shingle
      FROM words),
    hashed AS (
      SELECT doc_id, pos, {_MD5H.format(col="shingle")} AS h FROM sh),
    fps AS (
      SELECT DISTINCT doc_id, fingerprint FROM (
        SELECT doc_id,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING)
                 AS fingerprint
        FROM hashed)),
    counts AS (
      SELECT doc_id, COUNT(*) AS n FROM fps GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fps
      FROM fps a JOIN fps b
        ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= {min_shared})
    SELECT s.id_a, s.id_b, s.shared_fps,
           ROUND(CAST(s.shared_fps AS DOUBLE) /
                 CAST(least(ca.n, cb.n) AS DOUBLE), 6) AS overlap
    FROM shared s
    JOIN counts ca ON ca.doc_id = s.id_a
    JOIN counts cb ON cb.doc_id = s.id_b
    ORDER BY id_a, id_b
    """


_PR_EDGES_DEFAULT = """
      SELECT DISTINCT o.o_custkey AS src, 1000000 + l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey"""

_PR_FINAL_DEFAULT = "SELECT node, rank AS rank_scaled FROM {prev} ORDER BY node"


def _pagerank_oracle(
    iterations: int = 5,
    edges_sql: str = _PR_EDGES_DEFAULT,
    final_sql: str = _PR_FINAL_DEFAULT,
) -> str:
    from ..operators.graph import DAMPING_DEN, DAMPING_NUM, SCALE

    prev = "pr0"
    iters = []
    for i in range(1, iterations + 1):
        iters.append(f"""pr{i} AS (
      SELECT nd.node,
             CAST(({SCALE} * 15) // ({DAMPING_DEN} * (SELECT n FROM n)) +
                  COALESCE(c.s, 0) AS BIGINT) AS rank
      FROM nodes nd LEFT JOIN (
        SELECT u.dst AS node,
               SUM((p.rank * {DAMPING_NUM}) // ({DAMPING_DEN} * d.deg)) AS s
        FROM und u
        JOIN {prev} p ON u.src = p.node
        JOIN deg d ON d.src = u.src
        GROUP BY u.dst) c ON c.node = nd.node)""")
        prev = f"pr{i}"
    chain = ",\n    ".join(iters)
    final = final_sql.format(prev=prev)
    return f"""
    WITH edges0 AS ({edges_sql}),
    und AS (SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0),
    deg AS (SELECT src, COUNT(*) AS deg FROM und GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM und),
    n AS (SELECT COUNT(*) AS n FROM nodes),
    pr0 AS (
      SELECT node, CAST({SCALE} // (SELECT n FROM n) AS BIGINT) AS rank
      FROM nodes),
    {chain}
    {final}
    """


def _kmeans_oracle(k: int = 8, dim: int = 64, rounds: int = 1) -> str:
    """Round-unrolled DuckDB replica of operators/similarity.py::
    kmeans_lloyd — every Lloyd iteration (distance cross join, tie-broken
    assignment, integer-mean centroid update) replayed exactly."""
    per_round = []
    for r in range(1, rounds + 1):
        per_round.append(f"""dists{r} AS (
      SELECT q.vec_id, c.cid,
             list_reduce([(qv[i] - cv[i]) * (qv[i] - cv[i])
                          FOR i IN range(1, {dim + 1})],
                         (a, b) -> a + b) AS dist
      FROM q CROSS JOIN cents{r - 1} c),
    assign{r} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM dists{r})
      WHERE rn = 1),
    upd{r} AS (
      SELECT a.cid, e.pos,
             CAST(SUM(e.val) // COUNT(*) AS INT) AS cval
      FROM assign{r} a JOIN expl e USING (vec_id)
      GROUP BY a.cid, e.pos),
    cents{r} AS (
      SELECT cid, list(cval ORDER BY pos) AS cv FROM upd{r} GROUP BY cid)""")
    chain = ",\n    ".join(per_round)
    return f"""
    WITH q AS (
      SELECT vec_id,
             [GREATEST(CAST(ROUND(CAST(x AS DOUBLE) * 64, 0) AS INT) + 128, 0)
              FOR x IN embedding] AS qv
      FROM embeddings),
    cents0 AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < {k}),
    expl AS (
      SELECT vec_id, unnest(qv) AS val,
             unnest(range(1, {dim + 1})) AS pos
      FROM q),
    {chain},
    sizes AS (SELECT cid, COUNT(*) AS n_members FROM assign{rounds} GROUP BY cid)
    SELECT c.cid AS cluster_id, s.n_members, c.cv AS centroid
    FROM cents{rounds} c JOIN sizes s USING (cid)
    ORDER BY cluster_id
    """


def _lsh_topk_oracle(
    k: int = 3, n_planes: int = 6, n_tables: int = 8, dim: int = 64
) -> str:
    """DuckDB replica of operators/similarity.py::lsh_topk — every stage
    (48 deterministic hyperplanes, per-table sign buckets, multiprobe
    bit-flip probing, candidate dedup, exact-cosine window top-k) is
    reproduced, so the APPROXIMATE index is value-checked exactly."""
    tables = [
        sim_mod._hyperplanes(dim, n_planes, seed=f"lsh{t}")
        for t in range(n_tables)
    ]
    plane_cols = ",\n             ".join(
        "[" + ", ".join(repr(x) for x in p) + f"]::DOUBLE[] AS p{t}_{i}"
        for t, tp in enumerate(tables)
        for i, p in enumerate(tp)
    )

    def dot(vec: str, plane: str) -> str:
        return (
            f"list_reduce([CAST({vec}[i] AS DOUBLE) * {plane}[i] "
            f"FOR i IN range(1, len({vec})+1)], (acc, x) -> acc + x)"
        )

    def vdot(va: str, vb: str) -> str:
        return (
            f"list_reduce([CAST({va}[i] AS DOUBLE) * CAST({vb}[i] AS DOUBLE) "
            f"FOR i IN range(1, len({va})+1)], (acc, x) -> acc + x)"
        )

    def bucket(vec: str, t: int) -> str:
        bits = " + ".join(
            f"(CASE WHEN {dot(vec, f'p{t}_{i}')} >= 0 THEN {1 << i} ELSE 0 END)"
            for i in range(n_planes)
        )
        return f"({bits} + {t << n_planes})"

    corpus_buckets = ",\n                     ".join(
        bucket("v", t) for t in range(n_tables)
    )
    qb_cols = ",\n             ".join(
        f"{bucket('v', t)} AS b{t}" for t in range(n_tables)
    )
    probe_list = []
    for t in range(n_tables):
        probe_list.append(f"b{t}")
        probe_list += [f"xor(b{t}, {1 << i})" for i in range(n_planes)]
    probes = ", ".join(probe_list)
    return f"""
    WITH planes AS (
      SELECT {plane_cols}),
    corpus AS (
      SELECT vec_id AS neighbor_id,
             unnest([{corpus_buckets}]) AS bucket
      FROM (SELECT vec_id, embedding AS v FROM embeddings), planes),
    qb AS (
      SELECT vec_id AS query_id,
             {qb_cols}
      FROM (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id < 5),
           planes),
    probes AS (
      SELECT query_id, unnest([{probes}]) AS bucket FROM qb),
    cand AS (
      SELECT DISTINCT p.query_id, c.neighbor_id
      FROM corpus c JOIN probes p ON c.bucket = p.bucket
      WHERE c.neighbor_id <> p.query_id),
    pairs AS (
      SELECT cd.query_id, cd.neighbor_id,
             qe.embedding AS qv, ne.embedding AS nv
      FROM cand cd
      JOIN embeddings qe ON qe.vec_id = cd.query_id
      JOIN embeddings ne ON ne.vec_id = cd.neighbor_id),
    scored AS (
      SELECT query_id, neighbor_id,
             {vdot("qv", "nv")} /
             (sqrt({vdot("qv", "qv")}) * sqrt({vdot("nv", "nv")})) AS cos
      FROM pairs),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS INT)
               AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cosine
    FROM ranked WHERE rank <= {k}
    ORDER BY query_id, rank
    """


def _hll_parts(p: int = 8):
    """Shared pieces of the exact-arithmetic HyperLogLog: md5-portable
    60-bit hash, low p bits pick the register, the next 53-p... (here:
    the remaining 52) bits feed the leading-zero rank via a generated
    integer CASE chain — no floats anywhere until the final estimate."""
    m = 1 << p
    wbits = 52  # 60-bit hash minus 8 register bits
    # rank = position of the highest set bit from the top of the 52-bit
    # field, 1-based; all-zero field -> wbits + 1
    cases = " ".join(
        f"WHEN w >= {1 << (wbits - r)} THEN {r}" for r in range(1, wbits + 1)
    )
    rank_sql = f"CASE {cases} ELSE {wbits + 1} END"
    alpha = 0.7213 / (1 + 1.079 / m)
    return m, wbits, rank_sql, alpha


def _hll_oracle(p: int = 8) -> str:
    m, wbits, rank_sql, alpha = _hll_parts(p)
    return f"""
    WITH h AS (
      SELECT CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM events),
    ranked AS (
      SELECT hv & {m - 1} AS bucket, (hv >> {p}) AS w FROM h),
    regs AS (
      SELECT bucket, MAX({rank_sql}) AS mj
      FROM ranked GROUP BY bucket),
    full_regs AS (
      SELECT t.b AS bucket, COALESCE(r.mj, 0) AS mj
      FROM (SELECT unnest(range(0, {m})) AS b) t
      LEFT JOIN regs r ON r.bucket = t.b),
    s AS (
      SELECT SUM(CAST(1 AS BIGINT) << ({wbits + 1} - mj)) AS inv_scaled,
             SUM(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS zeros
      FROM full_regs),
    est AS (
      SELECT ROUND(CASE WHEN raw <= {25 * m // 10} AND zeros > 0
                        THEN CAST({m} AS DOUBLE) *
                             ln(CAST({m} AS DOUBLE) / CAST(zeros AS DOUBLE))
                        ELSE raw END, 4) AS hll_estimate
      FROM (SELECT CAST({alpha!r} AS DOUBLE) * CAST({m * m} AS DOUBLE) *
                   CAST({1 << (wbits + 1)} AS DOUBLE) /
                   CAST(inv_scaled AS DOUBLE) AS raw,
                   zeros
            FROM s))
    SELECT e.hll_estimate,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_distinct,
           ROUND(ABS(e.hll_estimate -
                     (SELECT COUNT(DISTINCT user_id) FROM events)) /
                 (SELECT COUNT(DISTINCT user_id) FROM events), 4) AS rel_err
    FROM est e
    """


_PORTABLE_H = (
    "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"  # Spark
)
_PORTABLE_H_DUCK = (
    "CAST(concat('0x', substring(md5({x}), 1, 15)) AS BIGINT)"  # DuckDB
)


def _bm25_oracle(terms=("scan", "hash", "customer"), k1=1.2, b=0.75, topn=15) -> str:
    score_cols = ",\n             ".join(
        f"""COALESCE(MAX(CASE WHEN tf.t = '{t}' THEN
               idf * (tf * CAST({k1 + 1} AS DOUBLE)) /
                     (tf + CAST({k1} AS DOUBLE) *
                      (CAST({1 - b} AS DOUBLE) + CAST({b} AS DOUBLE) *
                       dl / avgdl)) END), CAST(0 AS DOUBLE)) AS s{i}"""
        for i, t in enumerate(terms)
    )
    total = " + ".join(f"s{i}" for i in range(len(terms)))
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
      FROM documents WHERE trim(text) <> ''),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY doc_id),
    stats AS (
      SELECT CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
             CAST(COUNT(*) AS BIGINT) AS n FROM dl),
    tf AS (
      SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok
      WHERE t IN ({terms_sql}) GROUP BY doc_id, t),
    dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
    idf AS (
      SELECT t, ROUND(ln((CAST((SELECT n FROM stats) AS DOUBLE) -
                          CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
                         (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) +
                         CAST(1 AS DOUBLE)), 6) AS idf
      FROM dfreq),
    scored AS (
      SELECT tf.doc_id,
             {score_cols}
      FROM tf
      JOIN idf ON idf.t = tf.t
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN (SELECT avgdl FROM stats)
      GROUP BY tf.doc_id)
    SELECT doc_id, ROUND({total}, 6) AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT {topn}
    """


def _entropy_terms_sql(types=("click", "error", "purchase", "signup", "view")) -> str:
    # fixed-order sum of -p*ln(p) terms, one per known event type; zero
    # counts contribute 0 (CASE guard), so no NULL propagation
    return " + ".join(
        f"""(CASE WHEN n_{t} = 0 THEN CAST(0 AS DOUBLE)
             ELSE -(CAST(n_{t} AS DOUBLE) / CAST(n AS DOUBLE)) *
                   ln(CAST(n_{t} AS DOUBLE) / CAST(n AS DOUBLE)) END)"""
        for t in types
    )


_VDOT_KNN = (
    "list_reduce([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
    "FOR i IN range(1, len({a}) + 1)], (x, y) -> x + y)"
)


_NB_WORDS = "string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"


_LANG_HITS_SQL = """
    WITH toks AS (
      SELECT doc_id, lang,
             [lower(w) FOR w IN (CASE WHEN trim(text) = '' THEN []
                                 ELSE string_split_regex(trim(text), '\\s+') END)] AS words
      FROM documents),
    hits AS (
      SELECT doc_id, lang,
             len(list_filter(words, w -> list_contains(['der','die','und','das','ein'], w))) AS h_de,
             len(list_filter(words, w -> list_contains(['the','and','of','to','a'], w))) AS h_en,
             len(list_filter(words, w -> list_contains(['el','la','de','que','y'], w))) AS h_es,
             len(list_filter(words, w -> list_contains(['le','la','de','et','un'], w))) AS h_fr
      FROM toks),
    pred AS (
      SELECT doc_id, lang AS true_lang,
             CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                  WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                  WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                  WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                  ELSE 'fr' END AS pred_lang
      FROM hits)
"""


def _lpa_oracle(rounds: int = 2) -> str:
    prev = "l0"
    rounds_sql = []
    for r in range(1, rounds + 1):
        rounds_sql.append(f"""cnt{r} AS (
      SELECT e.src AS node, l.label, COUNT(*) AS n
      FROM esym e JOIN {prev} l ON l.node = e.dst
      GROUP BY e.src, l.label),
    pick{r} AS (
      SELECT node, label AS new_label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY n DESC, label) AS rn
        FROM cnt{r})
      WHERE rn = 1),
    l{r} AS (
      SELECT l.node, COALESCE(p.new_label, l.label) AS label
      FROM {prev} l LEFT JOIN pick{r} p USING (node))""")
        prev = f"l{r}"
    chain = ",\n    ".join(rounds_sql)
    return f"""
    WITH so AS (SELECT DISTINCT l_suppkey AS s, l_orderkey AS o FROM lineitem),
    w AS (
      SELECT a.s AS u, b.s AS v, COUNT(*) AS c
      FROM so a JOIN so b ON a.o = b.o AND a.s < b.s
      GROUP BY a.s, b.s),
    sym0 AS (
      SELECT u AS x, v AS y, c FROM w
      UNION ALL SELECT v, u, c FROM w),
    sel AS (
      SELECT x, y FROM (
        SELECT x, y, ROW_NUMBER() OVER (PARTITION BY x ORDER BY c DESC, y) AS rn
        FROM sym0)
      WHERE rn <= 3),
    e AS (SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v FROM sel),
    esym AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
    l0 AS (SELECT s_suppkey AS node, CAST(s_nationkey AS BIGINT) AS label
           FROM supplier),
    {chain}
    SELECT label AS community, COUNT(*) AS n_members
    FROM {prev}
    GROUP BY label
    ORDER BY n_members DESC, community
    """


_SPARSE_EDGES_CTE = """so AS (SELECT DISTINCT l_suppkey AS s, l_orderkey AS o FROM lineitem),
    w AS (
      SELECT a.s AS u, b.s AS v, COUNT(*) AS c
      FROM so a JOIN so b ON a.o = b.o AND a.s < b.s
      GROUP BY a.s, b.s),
    sym0 AS (
      SELECT u AS x, v AS y, c FROM w
      UNION ALL SELECT v, u, c FROM w),
    sel AS (
      SELECT x, y FROM (
        SELECT x, y, ROW_NUMBER() OVER (PARTITION BY x ORDER BY c DESC, y) AS rn
        FROM sym0)
      WHERE rn <= 3),
    e AS (SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v FROM sel),
    esym AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e)"""


def _band_sweep_oracle() -> str:
    parts = []
    for b in (8, 16, 32):
        parts.append(
            f"""SELECT * FROM (
    WITH {_minhash_oracle_ctes(64, b)}
    SELECT CAST({b} AS INT) AS bands, CAST(64 / {b} AS INT) AS rows_per_band,
           CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs
    FROM cand)"""
        )
    return "\n    UNION ALL\n    ".join(parts) + "\n    ORDER BY bands"


# ---------------------------------------------------------------------------
# Storage-layout + join-semantics breadth (round 2): null-aware anti joins,
# bucketed co-located joins, static + dynamic partition pruning, and
# multi-format round-trips. These pin the parts of the engine a 100 TB
# deployment lives and dies by — table layout and scan pruning — with the
# same value-oracle discipline as the relational core.
# ---------------------------------------------------------------------------

import threading as _threading

_QSTAGE_ROOT: str | None = None
_QSTAGE_LOCK = _threading.Lock()


def _qstage(sub: str) -> str:
    """Per-process staging dir for queries that must materialize an
    alternative physical layout (bucketed / partitioned / re-encoded)
    before reading it back. One mkdtemp per process, one subdir per
    query, overwritten on re-run — concurrent processes never collide,
    and the root init is locked so concurrent THREADS (the oracle
    mirror builds queries from a pool) share one root."""
    global _QSTAGE_ROOT
    import atexit
    import os
    import shutil
    import tempfile

    with _QSTAGE_LOCK:
        if _QSTAGE_ROOT is None:
            _QSTAGE_ROOT = tempfile.mkdtemp(prefix="htme_qstage_")
            atexit.register(shutil.rmtree, _QSTAGE_ROOT, True)
    return os.path.join(_QSTAGE_ROOT, sub)


_NULL_AWARE_ANTI_SQL = """
    SELECT
      (SELECT COUNT(*) FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                               WHERE o_orderstatus = 'F'))
        AS cnt_not_in_clean,
      (SELECT COUNT(*) FROM customer
       WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderstatus = 'P'
                                           THEN NULL ELSE o_custkey END
                               FROM orders))
        AS cnt_not_in_nullable,
      (SELECT COUNT(*) FROM customer
       WHERE c_custkey IN (SELECT CASE WHEN o_orderstatus = 'P'
                                       THEN NULL ELSE o_custkey END
                           FROM orders))
        AS cnt_in_nullable
    """


# ---------------------------------------------------------------------------
# ML-adjacent breadth (round 2): multi-feature OLS, a depth-2 decision
# tree (the greedy split search distributed), an l-diversity privacy
# audit, and seasonal-naive forecast error — each engine-exact.
# ---------------------------------------------------------------------------

# Sums are exact DECIMALs rounded before the double cast (numerators stay
# under 2^53 at the value-checked scales); every downstream formula is the
# SAME text in both engines, so the double arithmetic is bit-identical.
_OLS_SQL = """
    WITH s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sx,
             CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(8,4))), 4) AS DOUBLE) AS sy,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sz,
             CAST(ROUND(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(30,8))), 2) AS DOUBLE) AS sxx,
             CAST(ROUND(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(30,8))), 4) AS DOUBLE) AS sxy,
             CAST(ROUND(SUM(CAST(CAST(l_discount AS DECIMAL(8,4)) * CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(30,8))), 6) AS DOUBLE) AS syy,
             CAST(ROUND(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(30,8))), 0) AS DOUBLE) AS sxz,
             CAST(ROUND(SUM(CAST(CAST(l_discount AS DECIMAL(8,4)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(30,8))), 2) AS DOUBLE) AS syz,
             CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(30,8))), 0) AS DOUBLE) AS szz
      FROM lineitem),
    c AS (
      SELECT n, sx / n AS mx, sy / n AS my, sz / n AS mz,
             sxx - sx * sx / n AS cxx, sxy - sx * sy / n AS cxy,
             syy - sy * sy / n AS cyy, sxz - sx * sz / n AS cxz,
             syz - sy * sz / n AS cyz, szz - sz * sz / n AS czz
      FROM s),
    b AS (
      SELECT mx, my, mz, cxz, cyz, czz,
             (cyy * cxz - cxy * cyz) / (cxx * cyy - cxy * cxy) AS b1,
             (cxx * cyz - cxy * cxz) / (cxx * cyy - cxy * cxy) AS b2
      FROM c)
    SELECT ROUND(b1, 6) AS beta_quantity,
           ROUND(b2, 6) AS beta_discount,
           ROUND(mz - b1 * mx - b2 * my, 4) AS intercept,
           ROUND(1 - (czz - b1 * cxz - b2 * cyz) / czz, 6) AS r_squared
    FROM b
    """


def _stump_sql(src: str) -> str:
    """Best accuracy-split stump over `src` (columns y, qv) — DuckDB SQL
    fragment mirrored by the DataFrame stump in tree_depth2_classifier."""
    return f"""
      SELECT dim, threshold, n_correct, n_node FROM (
        SELECT d AS dim, val AS threshold,
               GREATEST(lp, ln) + GREATEST(tp - lp, tn - ln) AS n_correct,
               n AS n_node,
               ROW_NUMBER() OVER (
                 ORDER BY (GREATEST(lp, ln) + GREATEST(tp - lp, tn - ln)) DESC,
                          d, val) AS rn
        FROM (
          SELECT d, val,
                 SUM(pos) OVER w AS lp, SUM(neg) OVER w AS ln
          FROM (SELECT d, val, SUM(y) AS pos, COUNT(*) - SUM(y) AS neg
                FROM (SELECT y, unnest(qv) AS val,
                             unnest(range(1, len(qv) + 1)) AS d FROM {src})
                GROUP BY d, val)
          WINDOW w AS (PARTITION BY d ORDER BY val
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), (SELECT SUM(y) AS tp, COUNT(*) - SUM(y) AS tn, COUNT(*) AS n
            FROM {src})
      ) WHERE rn = 1
    """


_LDIV_SQL = """
    WITH joined AS (
      SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority AS sens
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey),
    per_val AS (
      SELECT c_nationkey, c_mktsegment, sens, COUNT(*) AS nv
      FROM joined GROUP BY c_nationkey, c_mktsegment, sens),
    per_grp AS (
      SELECT c_nationkey, c_mktsegment,
             SUM(nv) AS n_rows, COUNT(*) AS l_distinct, MAX(nv) AS max_freq
      FROM per_val GROUP BY c_nationkey, c_mktsegment)
    SELECT CAST(3 AS INT) AS l,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below_l,
           CAST(SUM(CASE WHEN max_freq * 2 > n_rows THEN 1 ELSE 0 END)
                AS BIGINT) AS n_majority_skewed,
           CAST(MIN(l_distinct) AS BIGINT) AS min_l
    FROM per_grp
    """


_MASE_SQL = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
      FROM orders GROUP BY CAST(o_orderdate AS DATE)),
    lagd AS (
      SELECT d, n,
             LAG(n, 7) OVER (ORDER BY d) AS n_prev7,
             LAG(n, 1) OVER (ORDER BY d) AS n_prev1
      FROM daily)
    SELECT COUNT(*) AS n_days,
           CAST(SUM(ABS(n - n_prev7)) AS BIGINT) AS sae_seasonal,
           CAST(SUM(ABS(n - n_prev1)) AS BIGINT) AS sae_naive,
           ROUND(CAST(SUM(ABS(n - n_prev7)) AS DOUBLE) /
                 CAST(SUM(ABS(n - n_prev1)) AS DOUBLE), 6) AS mase
    FROM lagd
    WHERE n_prev7 IS NOT NULL AND n_prev1 IS NOT NULL
    """


# ---------------------------------------------------------------------------
# Graph breadth (round 2): k-core decomposition and degree assortativity
# over the same top-3-sparsified supplier co-order graph the triangle /
# label-propagation queries use. Both oracles replay the exact rounds.
# ---------------------------------------------------------------------------

# The sparsified edge list shared by the graph family (see
# graph_triangle_count for the rationale: bounding degree at 2k is what
# keeps every polynomial graph pass polynomial at 100 TB).
_SPARSE_EDGES_SQL = """
    so AS (SELECT DISTINCT l_suppkey AS s, l_orderkey AS o FROM lineitem),
    w AS (
      SELECT a.s AS u, b.s AS v, COUNT(*) AS c
      FROM so a JOIN so b ON a.o = b.o AND a.s < b.s
      GROUP BY a.s, b.s),
    sym AS (
      SELECT u AS x, v AS y, c FROM w
      UNION ALL SELECT v AS x, u AS y, c FROM w),
    sel AS (
      SELECT x, y FROM (
        SELECT x, y,
               ROW_NUMBER() OVER (PARTITION BY x ORDER BY c DESC, y) AS rn
        FROM sym)
      WHERE rn <= 3),
    e AS (
      SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v FROM sel)
    """


def _kcore_oracle(k: int, rounds: int) -> str:
    parts = [
        "WITH " + _SPARSE_EDGES_SQL.strip().rstrip(),
        """,
    s0 AS (SELECT u AS node FROM e UNION SELECT v AS node FROM e),
    e0 AS (SELECT u, v FROM e)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    d{r} AS (SELECT node, COUNT(*) AS deg FROM
             (SELECT u AS node FROM e{r - 1}
              UNION ALL SELECT v AS node FROM e{r - 1}) GROUP BY node),
    s{r} AS (SELECT node FROM d{r} WHERE deg >= {k}),
    e{r} AS (SELECT e.u, e.v FROM e
             JOIN s{r} a ON a.node = e.u JOIN s{r} b ON b.node = e.v)""")
    selects = [
        f"""SELECT CAST({r} AS INT) AS round,
            (SELECT COUNT(*) FROM s{r}) AS n_nodes,
            (SELECT COUNT(*) FROM e{r}) AS n_edges"""
        for r in range(rounds + 1)
    ]
    return "\n".join(parts) + "\nSELECT * FROM (" + \
        " UNION ALL ".join(selects) + ") ORDER BY round"


def _heaps_oracle() -> str:
    selects = []
    for q in (1, 2, 3, 4):
        selects.append(f"""
      SELECT CAST({q} AS INT) AS quartile,
             (SELECT COUNT(DISTINCT doc_id) FROM wd, nn
              WHERE doc_id * 4 < n_docs * {q}) AS n_docs,
             (SELECT COUNT(*) FROM wd, nn
              WHERE doc_id * 4 < n_docs * {q}) AS n_tokens,
             (SELECT COUNT(DISTINCT w) FROM wd, nn
              WHERE doc_id * 4 < n_docs * {q}) AS n_vocab""")
    return """
    WITH wd AS (
      SELECT doc_id, unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
      FROM documents),
    nn AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT quartile, n_docs, n_tokens, n_vocab,
           ROUND(ln(CAST(n_vocab AS DOUBLE)) / ln(CAST(n_tokens AS DOUBLE)), 6)
             AS heaps_beta
    FROM (""" + " UNION ALL ".join(selects) + """)
    WHERE 1 = 1
    ORDER BY quartile
    """


_SQL_UDF_QUERY = """
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(ROUND(SUM(net_price(l_extendedprice, l_discount, l_tax)), 2)
                AS DOUBLE) AS sum_net,
           SUM(CASE WHEN qty_band(l_quantity) = 'bulk' THEN 1 ELSE 0 END)
             AS n_bulk
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """

# The UDF body is decimal-exact (q1's sum_charge pattern): casting the raw
# double COLUMNS to decimal is tie-free, whereas casting a computed double
# product to decimal can land exactly on a .5*10^-scale boundary where the
# engines' double->decimal conversions disagree.
_NET_PRICE_BODY = (
    "CAST({p} AS DECIMAL(18,2)) * CAST(1 - {d} AS DECIMAL(9,4)) "
    "* CAST(1 + {t} AS DECIMAL(9,4))"
)


def _catalog_profile_oracle() -> str:
    tabs = ["region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings"]
    sel = [
        f"SELECT '{t}' AS table_name, COUNT(*) AS n_rows,"
        f" (SELECT COUNT(*) FROM (DESCRIBE SELECT * FROM {t}))"
        f" AS n_cols FROM {t}"
        for t in tabs
    ]
    return ("SELECT * FROM (" + " UNION ALL ".join(sel)
            + ") ORDER BY table_name")


# ---------------------------------------------------------------------------
# Tokenizer inference (round 2): applying a BPE merge table — the
# greedy left-to-right pair-merge fold, expressed with array-accumulator
# higher-order folds in BOTH engines (Spark aggregate / DuckDB
# list_reduce fold left-to-right identically).
# ---------------------------------------------------------------------------

_BPE_MERGES = [("t", "h", "th"), ("th", "e", "the"), ("e", "r", "er")]


def _bpe_fold_duck(src: str, a: str, b: str, ab: str) -> str:
    return (
        f"list_reduce([[t] FOR t IN ({src})], (acc, x) -> "
        f"CASE WHEN len(acc) > 0 AND acc[-1] = '{a}' AND x[1] = '{b}' "
        f"THEN list_concat(acc[1:len(acc)-1], ['{ab}']) "
        f"ELSE list_concat(acc, x) END)"
    )


def _bpe_fold_spark(src: str, a: str, b: str, ab: str) -> str:
    return (
        f"aggregate({src}, CAST(array() AS ARRAY<STRING>), (acc, x) -> "
        f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{a}' AND x = '{b}' "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array('{ab}')) "
        f"ELSE concat(acc, array(x)) END)"
    )


def _bpe_oracle() -> str:
    expr = "string_split_regex(w, '')"
    for a, b, ab in _BPE_MERGES:
        expr = _bpe_fold_duck(expr, a, b, ab)
    return f"""
    WITH wc AS (
      SELECT w, COUNT(*) AS n
      FROM (SELECT unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
            FROM documents) t
      WHERE w <> '' GROUP BY w),
    toks AS (
      SELECT unnest({expr}) AS token, n FROM wc)
    SELECT token, CAST(SUM(n) AS BIGINT) AS n
    FROM toks GROUP BY token
    ORDER BY n DESC, token LIMIT 20
    """


# ---------------------------------------------------------------------------
# Mergeable sketches + weighted sampling + leakage audit (round 2).
# ---------------------------------------------------------------------------


def _hll_merge_oracle(p: int = 8) -> str:
    m, wbits, rank_sql, alpha = _hll_parts(p)
    raw = (
        f"CAST({alpha} AS DOUBLE) * CAST({m * m} AS DOUBLE) * "
        f"CAST({1 << (wbits + 1)} AS DOUBLE) / CAST(inv_scaled AS DOUBLE)"
    )
    est_expr = f"""
      ROUND(CASE WHEN {raw} <= {25 * m // 10} AND zeros > 0
                 THEN CAST({m} AS DOUBLE) *
                      ln(CAST({m} AS DOUBLE) / CAST(zeros AS DOUBLE))
                 ELSE {raw} END, 4)"""
    return f"""
    WITH h AS (
      SELECT event_type AS g,
             CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM events),
    ranked AS (
      SELECT g, hv & {m - 1} AS bucket, (hv >> {p}) AS w FROM h),
    regs AS (
      SELECT g, bucket, MAX({rank_sql}) AS mj
      FROM ranked GROUP BY g, bucket),
    merged AS (
      SELECT 'zz_merged' AS g, bucket, MAX(mj) AS mj
      FROM regs GROUP BY bucket),
    allregs AS (SELECT * FROM regs UNION ALL SELECT * FROM merged),
    scopes AS (SELECT DISTINCT g FROM allregs),
    full_regs AS (
      SELECT sb.g, sb.b AS bucket, COALESCE(r.mj, 0) AS mj
      FROM (SELECT s.g, t.b FROM scopes s,
            (SELECT unnest(range(0, {m})) AS b) t) sb
      LEFT JOIN allregs r ON r.bucket = sb.b AND r.g = sb.g),
    sums AS (
      SELECT g,
             SUM(CAST(1 AS BIGINT) << ({wbits + 1} - mj)) AS inv_scaled,
             SUM(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS zeros
      FROM full_regs GROUP BY g),
    ex AS (
      SELECT event_type AS g, COUNT(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY event_type
      UNION ALL
      SELECT 'zz_merged', COUNT(DISTINCT user_id) FROM events)
    SELECT s.g AS scope, {est_expr} AS hll_estimate, e.exact_distinct
    FROM sums s JOIN ex e ON e.g = s.g
    ORDER BY scope
    """


_GROUP_BY_ALL_SQL = """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS sum_qty
    FROM lineitem
    GROUP BY ALL
    ORDER BY ALL
    """


def _ref_integrity_oracle() -> str:
    fks = [
        ("lineitem_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders_custkey", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation_regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    sel = [
        f"""SELECT '{name}' AS fk, COUNT(*) AS n_child_rows,
            CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_orphans
        FROM {child} c LEFT JOIN {parent} p ON p.{pk} = c.{fk_col}"""
        for name, child, fk_col, parent, pk in fks
    ]
    return "SELECT * FROM (" + " UNION ALL ".join(sel) + ") ORDER BY fk"


_REF_FKS = [
    ("lineitem_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation_regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
]


def _bpe_detok_oracle() -> str:
    expr = "string_split_regex(w, '')"
    for a, b, ab in _BPE_MERGES:
        expr = _bpe_fold_duck(expr, a, b, ab)
    return f"""
    WITH wc AS (
      SELECT DISTINCT w
      FROM (SELECT unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
            FROM documents) t
      WHERE w <> ''),
    rt AS (
      SELECT w, list_aggregate({expr}, 'string_agg', '') AS detok
      FROM wc)
    SELECT COUNT(*) AS n_words,
           CAST(SUM(CASE WHEN detok = w THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lossless
    FROM rt
    """


# ---------------------------------------------------------------------------
# Decorrelation breadth, attribution, and mergeable-moment algebra.
# ---------------------------------------------------------------------------

_DECORRELATE_SQL = """
    SELECT c.c_custkey,
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS n_orders,
           CAST(ROUND((SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
                       FROM orders o2
                       WHERE o2.o_custkey = c.c_custkey
                         AND o2.o_orderpriority = '1-URGENT'), 2) AS DOUBLE)
             AS urgent_spend
    FROM customer c
    WHERE c.c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
    ORDER BY c.c_custkey
    LIMIT 200
    """


_WELFORD_SQL = """
    WITH halves AS (
      SELECT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) % 2
               AS h,
             CAST(o_totalprice AS DECIMAL(18,2)) AS x
      FROM orders),
    m AS (
      SELECT h,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(ROUND(SUM(x), 2) AS DOUBLE) AS s1,
             CAST(ROUND(SUM(CAST(x * x AS DECIMAL(30,4))), 0) AS DOUBLE) AS s2
      FROM halves GROUP BY h),
    merged AS (
      SELECT SUM(n) AS n, SUM(s1) AS s1, SUM(s2) AS s2 FROM m),
    direct AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(ROUND(SUM(x), 2) AS DOUBLE) AS s1,
             CAST(ROUND(SUM(CAST(x * x AS DECIMAL(30,4))), 0) AS DOUBLE) AS s2
      FROM halves)
    SELECT CAST(mg.n AS BIGINT) AS n_rows,
           ROUND((mg.s2 - mg.s1 * mg.s1 / mg.n) / (mg.n - 1), 4)
             AS merged_sample_var,
           ROUND((d.s2 - d.s1 * d.s1 / d.n) / (d.n - 1), 4)
             AS direct_sample_var,
           CASE WHEN (mg.s2 - mg.s1 * mg.s1 / mg.n) =
                     (d.s2 - d.s1 * d.s1 / d.n)
                THEN 1 ELSE 0 END AS merge_exact
    FROM merged mg, direct d
    """


_REGR_SQL = """
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           ROUND(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_qty,
           ROUND(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """


_VALUES_DIM_SQL = """
    WITH dim(priority, tier) AS (VALUES
      ('1-URGENT', 'hot'), ('2-HIGH', 'hot'), ('3-MEDIUM', 'warm'),
      ('4-NOT SPECIFIED', 'cold'), ('5-LOW', 'cold'))
    SELECT COALESCE(dim.tier, 'unknown') AS tier,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_revenue
    FROM orders LEFT JOIN dim ON o_orderpriority = dim.priority
    GROUP BY COALESCE(dim.tier, 'unknown')
    ORDER BY tier
    """


_FM_BIT = (
    "CASE WHEN (CAST('0x' || substr(md5('{t}' || ':' || CAST(id AS VARCHAR)), 1, 15) AS BIGINT) % 4294967296) = 0 "
    "THEN CAST(2147483648 AS BIGINT) "
    "ELSE (CAST('0x' || substr(md5('{t}' || ':' || CAST(id AS VARCHAR)), 1, 15) AS BIGINT) % 4294967296) "
    "& (-(CAST('0x' || substr(md5('{t}' || ':' || CAST(id AS VARCHAR)), 1, 15) AS BIGINT) % 4294967296)) END"
)


def _fm_oracle() -> str:
    bits = ",\n             ".join(
        _FM_BIT.format(t=t) + f" AS b{t}" for t in range(4)
    )

    def step(prev: str, cur: str) -> str:
        ors = ", ".join(
            f"(s.b{t} | COALESCE(n.b{t}, 0)) AS b{t}" for t in range(4)
        )
        aggs = ", ".join(f"bit_or({prev}.b{t}) AS b{t}" for t in range(4))
        return f"""{cur} AS (
      SELECT s.id, {ors}
      FROM {prev} s LEFT JOIN (
        SELECT und.u AS id, {aggs}
        FROM und JOIN {prev} ON {prev}.id = und.v
        GROUP BY und.u) n ON n.id = s.id)"""

    rv = " + ".join(f"((b{t} + 1) & (~b{t}))" for t in range(4))
    stats = "\n    UNION ALL ".join(
        f"SELECT {h} AS hop, COUNT(*) AS n_nodes, SUM({rv}) AS sum_r2 FROM s{h}"
        for h in range(4)
    )
    return f"""
    WITH so AS (SELECT DISTINCT l_suppkey AS s, l_orderkey AS o FROM lineitem),
    w AS (
      SELECT a.s AS u, b.s AS v, COUNT(*) AS c
      FROM so a JOIN so b ON a.o = b.o AND a.s < b.s
      GROUP BY a.s, b.s),
    sym AS (
      SELECT u AS x, v AS y, c FROM w
      UNION ALL SELECT v AS x, u AS y, c FROM w),
    sel AS (
      SELECT x, y FROM (
        SELECT x, y,
               ROW_NUMBER() OVER (PARTITION BY x ORDER BY c DESC, y) AS rn
        FROM sym)
      WHERE rn <= 3),
    e AS (
      SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v FROM sel),
    und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
    nodes AS (SELECT DISTINCT u AS id FROM und),
    s0 AS (
      SELECT id, {bits}
      FROM nodes),
    {step("s0", "s1")},
    {step("s1", "s2")},
    {step("s2", "s3")},
    stats AS (
    {stats})
    SELECT CAST(hop AS INT) AS hop, n_nodes,
           CAST(sum_r2 AS BIGINT) AS sum_r2,
           ROUND(CAST(sum_r2 AS DOUBLE) / (4 * CAST(0.77351 AS DOUBLE)), 4)
             AS est_total_reach
    FROM stats ORDER BY hop
    """


def _bpe_train_oracle() -> str:
    """Three BPE training rounds in static SQL: each round's winning pair
    is a scalar subquery (argmax with count-desc, pair-asc tiebreak) and
    the merge is the same left-to-right list_reduce fold Spark runs."""

    def pair_cte(prev: str, p: str) -> str:
        return f"""{p} AS (
      SELECT syms[i] AS a, syms[i + 1] AS b, SUM(freq) AS n
      FROM (SELECT freq, string_split(acc, '|') AS syms FROM {prev}) t,
           UNNEST(range(1, len(syms))) AS u(i)
      GROUP BY syms[i], syms[i + 1])"""

    def merge_cte(prev: str, m: str, r: str) -> str:
        return f"""{r} AS (
      SELECT w, freq,
             list_reduce(string_split(acc, '|'),
               (acc2, s) -> CASE
                 WHEN (acc2 = {m}.a OR acc2 LIKE '%|' || {m}.a)
                      AND s = {m}.b
                 THEN substr(acc2, 1, length(acc2) - length({m}.a))
                      || {m}.a || {m}.b
                 ELSE acc2 || '|' || s END) AS acc
      FROM {prev}, {m})"""

    parts = [
        """vocab AS (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents) t
      WHERE len(w) >= 1 GROUP BY w)""",
        """r0 AS (
      SELECT w, freq,
             list_aggregate([w[i] FOR i IN range(1, len(w) + 1)],
                            'string_agg', '|') AS acc
      FROM vocab)""",
    ]
    outs = []
    for i in (1, 2, 3):
        prev = f"r{i - 1}"
        parts.append(pair_cte(prev, f"p{i}"))
        parts.append(
            f"m{i} AS (SELECT a, b, n FROM p{i} ORDER BY n DESC, a, b LIMIT 1)"
        )
        parts.append(merge_cte(prev, f"m{i}", f"r{i}"))
        parts.append(
            f"st{i} AS (SELECT SUM(freq * len(string_split(acc, '|'))) "
            f"AS tot FROM r{i})"
        )
        outs.append(
            f"SELECT {i} AS rnd, m.a AS sym_a, m.b AS sym_b, "
            f"m.a || m.b AS merged, CAST(m.n AS BIGINT) AS pair_count, "
            f"CAST(st.tot AS BIGINT) AS corpus_symbols_after "
            f"FROM m{i} m, st{i} st"
        )
    union = "\n      UNION ALL ".join(outs)
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT CAST(rnd AS INT) AS round, sym_a, sym_b, merged, pair_count,
           corpus_symbols_after
    FROM ({union}) ORDER BY round
    """


def _sssp_oracle(rounds: int = 4) -> str:
    parts = ["""so AS (SELECT DISTINCT l_suppkey AS s, l_orderkey AS o FROM lineitem),
    w AS (
      SELECT a.s AS u, b.s AS v, COUNT(*) AS c
      FROM so a JOIN so b ON a.o = b.o AND a.s < b.s
      GROUP BY a.s, b.s),
    sym AS (
      SELECT u AS x, v AS y, c FROM w
      UNION ALL SELECT v AS x, u AS y, c FROM w),
    sel AS (
      SELECT x, y FROM (
        SELECT x, y,
               ROW_NUMBER() OVER (PARTITION BY x ORDER BY c DESC, y) AS rn
        FROM sym)
      WHERE rn <= 3),
    e AS (
      SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v FROM sel),
    ew AS (
      SELECT e.u, e.v, 1 + 1000 // w.c AS wt
      FROM e JOIN w ON w.u = e.u AND w.v = e.v),
    und AS (SELECT u, v, wt FROM ew UNION ALL SELECT v, u, wt FROM ew),
    src AS (SELECT MIN(u) AS s FROM und),
    d0 AS (SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM src)"""]
    for r in range(1, rounds + 1):
        parts.append(f"""d{r} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{r - 1}
        UNION ALL
        SELECT und.v AS node, d{r - 1}.dist + und.wt AS dist
        FROM d{r - 1} JOIN und ON und.u = d{r - 1}.node) t
      GROUP BY node)""")
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT node, dist FROM (
      SELECT node, dist,
             ROW_NUMBER() OVER (ORDER BY dist, node) AS rn
      FROM d{rounds})
    WHERE rn <= 20 ORDER BY dist, node
    """


_BOM_SQL_BODY = """
    WITH RECURSIVE bom(component, assembly, qty, depth) AS (
        SELECT p_partkey, CAST(FLOOR(p_partkey / 10) AS BIGINT),
               CAST(p_partkey % 5 + 1 AS BIGINT), 1
        FROM {part} WHERE p_partkey >= 10
        UNION ALL
        SELECT b.component, CAST(FLOOR(b.assembly / 10) AS BIGINT),
               b.qty * CAST(b.assembly % 5 + 1 AS BIGINT), b.depth + 1
        FROM bom b WHERE b.assembly >= 10 AND b.depth < 3
    )
    SELECT assembly, depth,
           COUNT(*) AS n_components,
           CAST(SUM(qty) AS BIGINT) AS total_effective_qty,
           CAST(MAX(qty) AS BIGINT) AS max_path_qty
    FROM bom GROUP BY assembly, depth
    ORDER BY assembly, depth
    """


_PAGINATION_SQL = """
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50 OFFSET 100
    """


_HLL_SLIDING_ORACLE = """
    WITH h AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS hv
      FROM events),
    rb AS (SELECT d, hv & 63 AS bucket, hv >> 6 AS w FROM h),
    regs AS (SELECT d, bucket, MAX(CASE WHEN w >= 9007199254740992 THEN 1 WHEN w >= 4503599627370496 THEN 2 WHEN w >= 2251799813685248 THEN 3 WHEN w >= 1125899906842624 THEN 4 WHEN w >= 562949953421312 THEN 5 WHEN w >= 281474976710656 THEN 6 WHEN w >= 140737488355328 THEN 7 WHEN w >= 70368744177664 THEN 8 WHEN w >= 35184372088832 THEN 9 WHEN w >= 17592186044416 THEN 10 WHEN w >= 8796093022208 THEN 11 WHEN w >= 4398046511104 THEN 12 WHEN w >= 2199023255552 THEN 13 WHEN w >= 1099511627776 THEN 14 WHEN w >= 549755813888 THEN 15 WHEN w >= 274877906944 THEN 16 WHEN w >= 137438953472 THEN 17 WHEN w >= 68719476736 THEN 18 WHEN w >= 34359738368 THEN 19 WHEN w >= 17179869184 THEN 20 WHEN w >= 8589934592 THEN 21 WHEN w >= 4294967296 THEN 22 WHEN w >= 2147483648 THEN 23 WHEN w >= 1073741824 THEN 24 WHEN w >= 536870912 THEN 25 WHEN w >= 268435456 THEN 26 WHEN w >= 134217728 THEN 27 WHEN w >= 67108864 THEN 28 WHEN w >= 33554432 THEN 29 WHEN w >= 16777216 THEN 30 WHEN w >= 8388608 THEN 31 WHEN w >= 4194304 THEN 32 WHEN w >= 2097152 THEN 33 WHEN w >= 1048576 THEN 34 WHEN w >= 524288 THEN 35 WHEN w >= 262144 THEN 36 WHEN w >= 131072 THEN 37 WHEN w >= 65536 THEN 38 WHEN w >= 32768 THEN 39 WHEN w >= 16384 THEN 40 WHEN w >= 8192 THEN 41 WHEN w >= 4096 THEN 42 WHEN w >= 2048 THEN 43 WHEN w >= 1024 THEN 44 WHEN w >= 512 THEN 45 WHEN w >= 256 THEN 46 WHEN w >= 128 THEN 47 WHEN w >= 64 THEN 48 WHEN w >= 32 THEN 49 WHEN w >= 16 THEN 50 WHEN w >= 8 THEN 51 WHEN w >= 4 THEN 52 WHEN w >= 2 THEN 53 WHEN w >= 1 THEN 54 ELSE 55 END) AS mj
             FROM rb GROUP BY d, bucket),
    days AS (SELECT DISTINCT d FROM regs),
    win AS (
      SELECT dy.d, r.bucket, MAX(r.mj) AS mj
      FROM days dy JOIN regs r ON r.d BETWEEN dy.d - 6 AND dy.d
      GROUP BY dy.d, r.bucket),
    s AS (
      SELECT d,
             SUM(CAST(1 AS BIGINT) << (55 - mj)) AS inv_present,
             COUNT(*) AS n_present
      FROM win GROUP BY d),
    est AS (
      SELECT d, 64 - n_present AS zeros,
             CAST(0.7093409548395029 AS DOUBLE) * 4096 *
             CAST(36028797018963968 AS DOUBLE) /
             CAST(inv_present + (64 - n_present) *
                  (CAST(1 AS BIGINT) << 55) AS DOUBLE) AS raw
      FROM s),
    fin AS (
      SELECT d,
             ROUND(CASE WHEN raw <= 160 AND zeros > 0
                        THEN 64 * ln(CAST(64 AS DOUBLE) /
                                      CAST(zeros AS DOUBLE))
                        ELSE raw END, 4) AS hll_trailing7
      FROM est),
    du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    ex AS (
      SELECT dy.d, COUNT(DISTINCT du.user_id) AS exact_trailing7
      FROM days dy JOIN du ON du.d BETWEEN dy.d - 6 AND dy.d
      GROUP BY dy.d)
    SELECT CAST(f.d AS TIMESTAMP) AS day, f.hll_trailing7,
           CAST(ex.exact_trailing7 AS BIGINT) AS exact_trailing7,
           ROUND(ABS(f.hll_trailing7 - ex.exact_trailing7) /
                 ex.exact_trailing7, 4) AS rel_err
    FROM fin f JOIN ex ON ex.d = f.d
    ORDER BY day
    """

_HLL_SLIDING_SPARK = """
    WITH h AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15), 16, 10)
                  AS BIGINT) AS hv
      FROM events_hll),
    rb AS (SELECT d, hv & 63 AS bucket, shiftright(hv, 6) AS w FROM h),
    regs AS (SELECT d, bucket, MAX(CASE WHEN w >= 9007199254740992 THEN 1 WHEN w >= 4503599627370496 THEN 2 WHEN w >= 2251799813685248 THEN 3 WHEN w >= 1125899906842624 THEN 4 WHEN w >= 562949953421312 THEN 5 WHEN w >= 281474976710656 THEN 6 WHEN w >= 140737488355328 THEN 7 WHEN w >= 70368744177664 THEN 8 WHEN w >= 35184372088832 THEN 9 WHEN w >= 17592186044416 THEN 10 WHEN w >= 8796093022208 THEN 11 WHEN w >= 4398046511104 THEN 12 WHEN w >= 2199023255552 THEN 13 WHEN w >= 1099511627776 THEN 14 WHEN w >= 549755813888 THEN 15 WHEN w >= 274877906944 THEN 16 WHEN w >= 137438953472 THEN 17 WHEN w >= 68719476736 THEN 18 WHEN w >= 34359738368 THEN 19 WHEN w >= 17179869184 THEN 20 WHEN w >= 8589934592 THEN 21 WHEN w >= 4294967296 THEN 22 WHEN w >= 2147483648 THEN 23 WHEN w >= 1073741824 THEN 24 WHEN w >= 536870912 THEN 25 WHEN w >= 268435456 THEN 26 WHEN w >= 134217728 THEN 27 WHEN w >= 67108864 THEN 28 WHEN w >= 33554432 THEN 29 WHEN w >= 16777216 THEN 30 WHEN w >= 8388608 THEN 31 WHEN w >= 4194304 THEN 32 WHEN w >= 2097152 THEN 33 WHEN w >= 1048576 THEN 34 WHEN w >= 524288 THEN 35 WHEN w >= 262144 THEN 36 WHEN w >= 131072 THEN 37 WHEN w >= 65536 THEN 38 WHEN w >= 32768 THEN 39 WHEN w >= 16384 THEN 40 WHEN w >= 8192 THEN 41 WHEN w >= 4096 THEN 42 WHEN w >= 2048 THEN 43 WHEN w >= 1024 THEN 44 WHEN w >= 512 THEN 45 WHEN w >= 256 THEN 46 WHEN w >= 128 THEN 47 WHEN w >= 64 THEN 48 WHEN w >= 32 THEN 49 WHEN w >= 16 THEN 50 WHEN w >= 8 THEN 51 WHEN w >= 4 THEN 52 WHEN w >= 2 THEN 53 WHEN w >= 1 THEN 54 ELSE 55 END) AS mj
             FROM rb GROUP BY d, bucket),
    days AS (SELECT DISTINCT d FROM regs),
    win AS (
      SELECT dy.d, r.bucket, MAX(r.mj) AS mj
      FROM days dy JOIN regs r
        ON r.d BETWEEN date_sub(dy.d, 6) AND dy.d
      GROUP BY dy.d, r.bucket),
    s AS (
      SELECT d,
             SUM(shiftleft(CAST(1 AS BIGINT), 55 - mj))
               AS inv_present,
             COUNT(*) AS n_present
      FROM win GROUP BY d),
    est AS (
      SELECT d, 64 - n_present AS zeros,
             CAST(0.7093409548395029 AS DOUBLE) * 4096 *
             CAST(36028797018963968 AS DOUBLE) /
             CAST(inv_present + (64 - n_present) *
                  shiftleft(CAST(1 AS BIGINT), 55) AS DOUBLE) AS raw
      FROM s),
    fin AS (
      SELECT d,
             ROUND(CASE WHEN raw <= 160 AND zeros > 0
                        THEN 64 * ln(CAST(64 AS DOUBLE) /
                                      CAST(zeros AS DOUBLE))
                        ELSE raw END, 4) AS hll_trailing7
      FROM est),
    du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events_hll),
    ex AS (
      SELECT dy.d, COUNT(DISTINCT du.user_id) AS exact_trailing7
      FROM days dy JOIN du ON du.d BETWEEN date_sub(dy.d, 6) AND dy.d
      GROUP BY dy.d)
    SELECT CAST(f.d AS TIMESTAMP) AS day, f.hll_trailing7,
           CAST(ex.exact_trailing7 AS BIGINT) AS exact_trailing7,
           ROUND(ABS(f.hll_trailing7 - ex.exact_trailing7) /
                 ex.exact_trailing7, 4) AS rel_err
    FROM fin f JOIN ex ON ex.d = f.d
    ORDER BY day
    """


def _rrf_fusion_oracle() -> str:
    bm25 = _bm25_oracle(topn=15)
    vdot = (
        "list_dot_product([CAST(x AS DOUBLE) FOR x IN {a}], "
        "[CAST(x AS DOUBLE) FOR x IN {b}])"
    )
    return f"""
    WITH bm_raw AS ({bm25}),
    bm AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
      FROM bm_raw),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cs_raw AS (
      SELECT e.vec_id AS doc_id,
             {vdot.format(a="q.qv", b="e.embedding")} /
             (sqrt({vdot.format(a="q.qv", b="q.qv")}) *
              sqrt({vdot.format(a="e.embedding", b="e.embedding")})) AS cos
      FROM embeddings e, q WHERE e.vec_id <> 0),
    cs AS (
      SELECT doc_id, rnk FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rnk
        FROM cs_raw) WHERE rnk <= 15),
    fused AS (
      SELECT COALESCE(bm.doc_id, cs.doc_id) AS doc_id,
             COALESCE(1000000 // (60 + bm.rnk), 0) +
             COALESCE(1000000 // (60 + cs.rnk), 0) AS rrf
      FROM bm FULL OUTER JOIN cs ON cs.doc_id = bm.doc_id)
    SELECT doc_id, CAST(rrf AS BIGINT) AS rrf_score
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rn
          FROM fused)
    WHERE rn <= 10 ORDER BY rrf_score DESC, doc_id
    """


_TEXTRANK_EDGES = """
      SELECT DISTINCT w1 AS src, w2 AS dst FROM (
        SELECT words[i] AS w1, words[i + 1] AS w2
        FROM (SELECT string_split_regex(regexp_replace(lower(trim(text)),
                                                       '\\s+', ' ', 'g'),
                                        ' ') AS words
              FROM documents) t,
             UNNEST(range(1, len(words))) AS u(i))
      WHERE w1 < w2"""

_TEXTRANK_FINAL = """
    SELECT node AS word, rank AS rank_scaled FROM (
      SELECT node, rank,
             ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS rn
      FROM {prev})
    WHERE rn <= 20 ORDER BY rank_scaled DESC, word"""


def _hll_intersection_oracle(p: int = 8) -> str:
    m, wbits, rank_sql, alpha = _hll_parts(p)
    raw = (
        f"CAST({alpha} AS DOUBLE) * CAST({m * m} AS DOUBLE) * "
        f"CAST({1 << (wbits + 1)} AS DOUBLE) / CAST(inv_scaled AS DOUBLE)"
    )
    est_expr = f"""
      ROUND(CASE WHEN {raw} <= {25 * m // 10} AND zeros > 0
                 THEN CAST({m} AS DOUBLE) *
                      ln(CAST({m} AS DOUBLE) / CAST(zeros AS DOUBLE))
                 ELSE {raw} END, 4)"""
    return f"""
    WITH h AS (
      SELECT event_type AS g,
             CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM events WHERE event_type IN ('click', 'purchase')),
    ranked AS (
      SELECT g, hv & {m - 1} AS bucket, (hv >> {p}) AS w FROM h),
    regs AS (
      SELECT g, bucket, MAX({rank_sql}) AS mj
      FROM ranked GROUP BY g, bucket),
    merged AS (
      SELECT 'union' AS g, bucket, MAX(mj) AS mj FROM regs GROUP BY bucket),
    allregs AS (SELECT * FROM regs UNION ALL SELECT * FROM merged),
    scopes AS (SELECT DISTINCT g FROM allregs),
    full_regs AS (
      SELECT sb.g, sb.b AS bucket, COALESCE(r.mj, 0) AS mj
      FROM (SELECT s.g, t.b FROM scopes s,
            (SELECT unnest(range(0, {m})) AS b) t) sb
      LEFT JOIN allregs r ON r.bucket = sb.b AND r.g = sb.g),
    sums AS (
      SELECT g,
             SUM(CAST(1 AS BIGINT) << ({wbits + 1} - mj)) AS inv_scaled,
             SUM(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS zeros
      FROM full_regs GROUP BY g),
    ests AS (SELECT g, {est_expr} AS est FROM sums),
    wide AS (
      SELECT MAX(CASE WHEN g = 'click' THEN est END) AS est_click,
             MAX(CASE WHEN g = 'purchase' THEN est END) AS est_purchase,
             MAX(CASE WHEN g = 'union' THEN est END) AS est_union
      FROM ests),
    exact AS (
      SELECT COUNT(*) AS exact_intersection FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'purchase'))
    SELECT est_click, est_purchase, est_union,
           ROUND(est_click + est_purchase - est_union, 4)
             AS est_intersection,
           (SELECT CAST(exact_intersection AS BIGINT) FROM exact)
             AS exact_intersection
    FROM wide
    """


def _det_walks_oracle(steps: int = 3) -> str:
    md5i = (
        "CAST('0x' || substr(md5(CAST(start AS VARCHAR) || ':' || "
        "CAST(cur AS VARCHAR) || ':{s}'), 1, 15) AS BIGINT)"
    )
    walk_ctes = []
    prev = "w0"
    for s in range(1, steps + 1):
        walk_ctes.append(f"""w{s} AS (
      SELECT w.start, adj.nbr AS cur
      FROM {prev} w
      JOIN deg d ON d.node = w.cur
      JOIN adj ON adj.node = w.cur
             AND adj.idx = {md5i.format(s=s)} % d.deg)""")
        prev = f"w{s}"
    chain = ",\n    ".join(walk_ctes)
    return f"""
    WITH so AS (SELECT DISTINCT l_suppkey AS s, l_orderkey AS o FROM lineitem),
    w AS (
      SELECT a.s AS u, b.s AS v, COUNT(*) AS c
      FROM so a JOIN so b ON a.o = b.o AND a.s < b.s
      GROUP BY a.s, b.s),
    sym AS (
      SELECT u AS x, v AS y, c FROM w
      UNION ALL SELECT v AS x, u AS y, c FROM w),
    sel AS (
      SELECT x, y FROM (
        SELECT x, y,
               ROW_NUMBER() OVER (PARTITION BY x ORDER BY c DESC, y) AS rn
        FROM sym)
      WHERE rn <= 3),
    e AS (SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v FROM sel),
    und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
    adj AS (
      SELECT u AS node, v AS nbr,
             ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) - 1 AS idx
      FROM und),
    deg AS (SELECT node, COUNT(*) AS deg FROM adj GROUP BY node),
    w0 AS (SELECT node AS start, node AS cur FROM deg),
    {chain}
    SELECT cur AS end_node, COUNT(*) AS n_walks
    FROM {prev} GROUP BY cur
    ORDER BY n_walks DESC, end_node
    LIMIT 20
    """


_BLOOM_H_SPARK = (
    "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"
)


_MORTON_DUCK = "((({x} >> 0) & 1) << 0) + ((({y} >> 0) & 1) << 1) + ((({x} >> 1) & 1) << 2) + ((({y} >> 1) & 1) << 3) + ((({x} >> 2) & 1) << 4) + ((({y} >> 2) & 1) << 5) + ((({x} >> 3) & 1) << 6) + ((({y} >> 3) & 1) << 7) + ((({x} >> 4) & 1) << 8) + ((({y} >> 4) & 1) << 9) + ((({x} >> 5) & 1) << 10) + ((({y} >> 5) & 1) << 11) + ((({x} >> 6) & 1) << 12) + ((({y} >> 6) & 1) << 13) + ((({x} >> 7) & 1) << 14) + ((({y} >> 7) & 1) << 15)"
_MORTON_SPARK = "shiftleft(((shiftright({x}, 0)) & 1), 0) + shiftleft(((shiftright({y}, 0)) & 1), 1) + shiftleft(((shiftright({x}, 1)) & 1), 2) + shiftleft(((shiftright({y}, 1)) & 1), 3) + shiftleft(((shiftright({x}, 2)) & 1), 4) + shiftleft(((shiftright({y}, 2)) & 1), 5) + shiftleft(((shiftright({x}, 3)) & 1), 6) + shiftleft(((shiftright({y}, 3)) & 1), 7) + shiftleft(((shiftright({x}, 4)) & 1), 8) + shiftleft(((shiftright({y}, 4)) & 1), 9) + shiftleft(((shiftright({x}, 5)) & 1), 10) + shiftleft(((shiftright({y}, 5)) & 1), 11) + shiftleft(((shiftright({x}, 6)) & 1), 12) + shiftleft(((shiftright({y}, 6)) & 1), 13) + shiftleft(((shiftright({x}, 7)) & 1), 14) + shiftleft(((shiftright({y}, 7)) & 1), 15)"


def _kcenter_oracle(k: int = 5) -> str:
    """Greedy k-center unrolled: center 1 = min vec_id; each next center
    is the point farthest (quantized L2, tiebreak lowest id) from its
    nearest chosen center."""
    parts = ["""q AS (
      SELECT vec_id,
             [GREATEST(CAST(ROUND(CAST(x AS DOUBLE) * 64, 0) AS INT) + 128, 0)
              FOR x IN embedding] AS qv
      FROM embeddings),
    dims AS (
      SELECT vec_id, CAST(pos0 AS INT) AS i, val
      FROM (SELECT vec_id, unnest(qv) AS val,
                   unnest(range(0, len(qv))) AS pos0 FROM q)),
    c1 AS (SELECT MIN(vec_id) AS cid FROM q)"""]
    prev_centers = "(SELECT cid FROM c1)"
    for r in range(2, k + 1):
        parts.append(f"""d{r} AS (
      SELECT d.vec_id, MIN(t.dist) AS mind FROM (
        SELECT a.vec_id, b.vec_id AS cid,
               SUM((a.val - b.val) * (a.val - b.val)) AS dist
        FROM dims a JOIN dims b ON b.i = a.i
        WHERE b.vec_id IN {prev_centers}
        GROUP BY a.vec_id, b.vec_id) t
      JOIN q d ON d.vec_id = t.vec_id
      WHERE d.vec_id NOT IN {prev_centers}
      GROUP BY d.vec_id),
    c{r} AS (
      SELECT vec_id AS cid FROM d{r}
      ORDER BY mind DESC, vec_id LIMIT 1)""")
        prev_centers = (
            "(SELECT cid FROM c1"
            + "".join(f" UNION ALL SELECT cid FROM c{i}" for i in range(2, r + 1))
            + ")"
        )
    parts.append(f"""centers AS (SELECT cid FROM {prev_centers} t),
    cover AS (
      SELECT a.vec_id, MIN(t.dist) AS mind FROM (
        SELECT a2.vec_id, b.vec_id AS cid,
               SUM((a2.val - b.val) * (a2.val - b.val)) AS dist
        FROM dims a2 JOIN dims b ON b.i = a2.i
        WHERE b.vec_id IN (SELECT cid FROM centers)
        GROUP BY a2.vec_id, b.vec_id) t
      JOIN q a ON a.vec_id = t.vec_id
      GROUP BY a.vec_id)""")
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT (SELECT CAST(list_aggregate(list(cid ORDER BY cid),
                                       'string_agg', ',') AS VARCHAR)
            FROM centers) AS center_ids,
           CAST((SELECT MAX(mind) FROM cover) AS BIGINT)
             AS coverage_radius_sq,
           (SELECT COUNT(*) FROM q) AS n_points
    """


_QUANTIFIED_SQL = """
    WITH march_avgs AS (
      SELECT AVG(o_totalprice) AS a
      FROM orders WHERE EXTRACT(MONTH FROM o_orderdate) = 3
      GROUP BY EXTRACT(YEAR FROM o_orderdate))
    SELECT COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o_totalprice > ALL (SELECT a FROM march_avgs)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_above_all,
           CAST(SUM(CASE WHEN o_totalprice > ANY (SELECT a FROM march_avgs)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_above_any
    FROM orders
    """


def _ktruss_oracle(rounds: int = 3) -> str:
    """3-truss peeling unrolled: per round, drop edges supported by
    fewer than 1 triangle, recompute — fixpoint within ``rounds`` on
    gate-sized graphs (the Spark side iterates the same fixed count)."""
    parts = ["""so AS (SELECT DISTINCT l_suppkey AS s, l_orderkey AS o FROM lineitem),
    w AS (
      SELECT a.s AS u, b.s AS v, COUNT(*) AS c
      FROM so a JOIN so b ON a.o = b.o AND a.s < b.s
      GROUP BY a.s, b.s),
    sym AS (
      SELECT u AS x, v AS y, c FROM w
      UNION ALL SELECT v AS x, u AS y, c FROM w),
    sel AS (
      SELECT x, y FROM (
        SELECT x, y,
               ROW_NUMBER() OVER (PARTITION BY x ORDER BY c DESC, y) AS rn
        FROM sym)
      WHERE rn <= 3),
    e0 AS (SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v FROM sel)"""]
    prev = "e0"
    for r in range(1, rounds + 1):
        parts.append(f"""sup{r} AS (
      SELECT e.u, e.v, COUNT(w2.a) AS s
      FROM {prev} e
      LEFT JOIN (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM {prev} e1 JOIN {prev} e2 ON e2.u = e1.v
        JOIN {prev} e3 ON e3.u = e1.u AND e3.v = e2.v) w2
        ON (w2.a = e.u AND w2.b = e.v) OR (w2.b = e.u AND w2.c = e.v)
        OR (w2.a = e.u AND w2.c = e.v)
      GROUP BY e.u, e.v),
    e{r} AS (SELECT u, v FROM sup{r} WHERE s >= 1)""")
        prev = f"e{r}"
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT (SELECT COUNT(*) FROM e0) AS n_edges_initial,
           (SELECT COUNT(*) FROM {prev}) AS n_edges_3truss,
           (SELECT COUNT(DISTINCT u) FROM
             (SELECT u FROM {prev} UNION ALL SELECT v FROM {prev}) t)
             AS n_nodes_3truss
    """


def _densest_oracle(rounds: int = 3) -> str:
    parts = ["""so AS (SELECT DISTINCT l_suppkey AS s, l_orderkey AS o FROM lineitem),
    w AS (
      SELECT a.s AS u, b.s AS v, COUNT(*) AS c
      FROM so a JOIN so b ON a.o = b.o AND a.s < b.s
      GROUP BY a.s, b.s),
    sym AS (
      SELECT u AS x, v AS y, c FROM w
      UNION ALL SELECT v AS x, u AS y, c FROM w),
    sel AS (
      SELECT x, y FROM (
        SELECT x, y,
               ROW_NUMBER() OVER (PARTITION BY x ORDER BY c DESC, y) AS rn
        FROM sym)
      WHERE rn <= 3),
    e0 AS (SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v FROM sel)"""]
    stats = []
    prev = "e0"
    for r in range(1, rounds + 1):
        parts.append(f"""deg{r} AS (
      SELECT s, COUNT(*) AS d FROM (
        SELECT u AS s FROM {prev} UNION ALL SELECT v FROM {prev}) t
      GROUP BY s),
    avg{r} AS (
      SELECT 2 * (SELECT COUNT(*) FROM {prev}) AS sum_d,
             (SELECT COUNT(*) FROM deg{r}) AS n),
    keep{r} AS (
      -- parallel peel: keep nodes with degree >= (1+eps) * average,
      -- eps = 1/10, compared exactly: 10 * n * d >= 11 * sum_d
      SELECT s FROM deg{r}, avg{r}
      WHERE 10 * GREATEST(avg{r}.n, 1) * deg{r}.d >= 11 * avg{r}.sum_d),
    e{r} AS (
      SELECT e.u, e.v FROM {prev} e
      JOIN keep{r} ka ON ka.s = e.u JOIN keep{r} kb ON kb.s = e.v)""")
        stats.append(
            f"SELECT {r} AS round, (SELECT n FROM avg{r}) AS n_nodes, "
            f"(SELECT COUNT(*) FROM {prev}) AS n_edges"
        )
        prev = f"e{r}"
    ctes = ",\n    ".join(parts)
    union = "\n      UNION ALL ".join(stats)
    return f"""
    WITH {ctes}
    SELECT CAST(round AS INT) AS round,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           ROUND(CAST(n_edges AS DOUBLE) / GREATEST(n_nodes, 1), 6)
             AS density
    FROM ({union}) ORDER BY round
    """


def _rbo_oracle(k: int = 15, p: float = 0.9) -> str:
    bm25 = _bm25_oracle(topn=k)
    vdot = (
        "list_dot_product([CAST(x AS DOUBLE) FOR x IN {a}], "
        "[CAST(x AS DOUBLE) FOR x IN {b}])"
    )
    # (1-p) * sum_{d=1..k} p^(d-1) * |overlap at depth d| / d, plus the
    # residual extrapolation term p^k * overlap_k / k
    return f"""
    WITH bm_raw AS ({bm25}),
    bm AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
      FROM bm_raw),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cs_raw AS (
      SELECT e.vec_id AS doc_id,
             {vdot.format(a="q.qv", b="e.embedding")} /
             (sqrt({vdot.format(a="q.qv", b="q.qv")}) *
              sqrt({vdot.format(a="e.embedding", b="e.embedding")})) AS cos
      FROM embeddings e, q WHERE e.vec_id <> 0),
    cs AS (
      SELECT doc_id, rnk FROM (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rnk
        FROM cs_raw) WHERE rnk <= {k}),
    depths AS (SELECT unnest(range(1, {k + 1})) AS d),
    ov AS (
      SELECT d.d,
             (SELECT COUNT(*) FROM bm, cs
              WHERE bm.doc_id = cs.doc_id
                AND bm.rnk <= d.d AND cs.rnk <= d.d) AS o
      FROM depths d),
    terms AS (
      SELECT d, o,
             CAST({1 - p} AS DOUBLE) * power(CAST({p} AS DOUBLE), d - 1) *
             o / d AS term
      FROM ov)
    SELECT CAST({k} AS INT) AS k,
           (SELECT CAST(o AS BIGINT) FROM ov WHERE d = {k}) AS overlap_at_k,
           ROUND(list_reduce(list(term ORDER BY d), (a, b) -> a + b) +
                 power(CAST({p} AS DOUBLE), {k}) *
                 (SELECT o FROM ov WHERE d = {k}) / CAST({k} AS DOUBLE), 6)
             AS rbo_ext
    FROM terms LIMIT 1
    """


_NAMED_WINDOW_SQL = """
    SELECT o_orderkey,
           ROW_NUMBER() OVER w AS rn,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER wf, 2)
             AS running_rev
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_orderdate, o_orderkey),
           wf AS (PARTITION BY o_orderpriority
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY o_orderkey
    LIMIT 100
    """


# One-sided BH critical values Φ^{-1}(1 - 0.05·i/25), i = 1..25, computed
# once offline (bisection on erf, double precision) and pinned as literals
# in BOTH engines — the inverse normal CDF is configuration, not data.
_BH_CRIT = [
    2.878162, 2.65207, 2.512144, 2.408916, 2.326348, 2.257129, 2.197286,
    2.144411, 2.096927, 2.053749, 2.014091, 1.977368, 1.943134, 1.911036,
    1.880794, 1.85218, 1.825007, 1.799118, 1.774382, 1.750686, 1.727934,
    1.706043, 1.684941, 1.664563, 1.644854,
]


def _bh_crit_sql() -> str:
    rows = ", ".join(
        f"({i + 1}, CAST({c} AS DOUBLE))" for i, c in enumerate(_BH_CRIT)
    )
    return f"(VALUES {rows}) AS crit(rank, c)"


_MARKOV_STEPS = 50
_MARKOV_CHANNELS = ["click", "error", "signup", "view"]


def _markov_removal_oracle() -> str:
    scenarios = "', '".join(["full"] + _MARKOV_CHANNELS)
    steps = []
    for k in range(1, _MARKOV_STEPS + 1):
        steps.append(
            f"""it{k} AS MATERIALIZED (
      SELECT st.sc, st.state, COALESCE(f.p, CAST(0 AS DOUBLE)) AS p
      FROM st LEFT JOIN (
        SELECT t.sc, t.s2 AS state,
               list_reduce(list(p.p * t.pr ORDER BY t.s), (a, b) -> a + b)
                 AS p
        FROM trans t JOIN it{k - 1} p ON p.sc = t.sc AND p.state = t.s
        GROUP BY t.sc, t.s2) f
      ON f.sc = st.sc AND f.state = st.state)"""
        )
    its = ",\n    ".join(steps)
    return f"""
    WITH ev AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS purchases_before
      FROM events),
    kept AS (
      SELECT user_id, ts, event_id, event_type
      FROM ev WHERE COALESCE(purchases_before, 0) = 0),
    seq AS (
      SELECT user_id, event_type,
             COALESCE(LAG(event_type) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id), 'start') AS prev,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn_last
      FROM kept),
    steps_raw AS (
      SELECT prev AS s, event_type AS s2 FROM seq
      UNION ALL
      SELECT event_type AS s, 'end' AS s2
      FROM seq WHERE rn_last = 1 AND event_type <> 'purchase'),
    counts AS MATERIALIZED (SELECT s, s2, COUNT(*) AS c FROM steps_raw GROUP BY s, s2),
    scenarios AS (SELECT unnest(['{scenarios}']) AS sc),
    red AS (
      SELECT sc.sc, c.s,
             CASE WHEN c.s2 = sc.sc THEN 'end' ELSE c.s2 END AS s2,
             SUM(c.c) AS c
      FROM counts c CROSS JOIN scenarios sc
      GROUP BY sc.sc, c.s, 3),
    tot AS (SELECT sc, s, SUM(c) AS t FROM red GROUP BY sc, s),
    trans AS MATERIALIZED (
      SELECT r.sc, r.s, r.s2,
             CAST(r.c AS DOUBLE) / CAST(tot.t AS DOUBLE) AS pr
      FROM red r JOIN tot ON tot.sc = r.sc AND tot.s = r.s
      UNION ALL
      SELECT sc.sc, a.s, a.s AS s2, CAST(1 AS DOUBLE) AS pr
      FROM scenarios sc CROSS JOIN
           (SELECT unnest(['purchase', 'end']) AS s) a),
    states AS (
      SELECT DISTINCT s AS state FROM (
        SELECT s FROM trans UNION ALL SELECT s2 FROM trans
        UNION ALL SELECT 'start')),
    st AS MATERIALIZED (SELECT sc.sc, s.state FROM scenarios sc CROSS JOIN states s),
    it0 AS MATERIALIZED (
      SELECT sc, state,
             CASE WHEN state = 'start' THEN CAST(1 AS DOUBLE)
                  ELSE CAST(0 AS DOUBLE) END AS p
      FROM st),
    {its},
    pconv AS (
      SELECT sc, p FROM it{_MARKOV_STEPS} WHERE state = 'purchase'),
    pfull AS (SELECT p AS pf FROM pconv WHERE sc = 'full'),
    eff AS (
      SELECT pc.sc AS channel, pf.pf, pc.p,
             1 - pc.p / pf.pf AS effect
      FROM pconv pc, pfull pf WHERE pc.sc <> 'full'),
    tot_eff AS (
      SELECT list_reduce(list(effect ORDER BY channel), (a, b) -> a + b)
        AS te FROM eff)
    SELECT e.channel, ROUND(e.pf, 6) AS p_conversion_full,
           ROUND(e.p, 6) AS p_conversion_removed,
           ROUND(e.effect, 6) AS removal_effect,
           ROUND(e.effect / t.te, 6) AS attribution_share
    FROM eff e, tot_eff t
    ORDER BY channel
    """


_BT_ROUNDS = 3


def _bradley_terry_oracle() -> str:
    steps = []
    for k in range(1, _BT_ROUNDS + 1):
        steps.append(
            f"""bt{k} AS MATERIALIZED (
      SELECT wi.lang,
             CAST(wi.wins AS DOUBLE) / den.den AS p
      FROM wtot wi JOIN (
        SELECT n.la AS lang,
               list_reduce(list(CAST(n.n AS DOUBLE) / (pa.p + pb.p)
                                ORDER BY n.lb), (x, y) -> x + y) AS den
        FROM npair n
        JOIN bt{k - 1} pa ON pa.lang = n.la
        JOIN bt{k - 1} pb ON pb.lang = n.lb
        GROUP BY n.la) den ON den.lang = wi.lang)"""
        )
    its = ",\n    ".join(steps)
    return f"""
    WITH vals AS MATERIALIZED (
      SELECT lang, n_chars // 50 AS v, COUNT(*) AS c
      FROM documents GROUP BY lang, 2),
    wins AS MATERIALIZED (
      SELECT a.lang AS la, b.lang AS lb, SUM(a.c * b.c) AS w
      FROM vals a JOIN vals b
        ON a.lang <> b.lang AND a.v > b.v
      GROUP BY a.lang, b.lang),
    wtot AS MATERIALIZED (
      SELECT la AS lang, SUM(w) AS wins FROM wins GROUP BY la),
    npair AS MATERIALIZED (
      SELECT g.la, g.lb, COALESCE(wa.w, 0) + COALESCE(wb.w, 0) AS n
      FROM (SELECT a.lang AS la, b.lang AS lb
            FROM wtot a JOIN wtot b ON a.lang <> b.lang) g
      LEFT JOIN wins wa ON wa.la = g.la AND wa.lb = g.lb
      LEFT JOIN wins wb ON wb.la = g.lb AND wb.lb = g.la),
    bt0 AS MATERIALIZED (
      SELECT lang, CAST(1 AS DOUBLE) AS p FROM wtot),
    {its},
    tot AS (
      SELECT list_reduce(list(p ORDER BY lang), (x, y) -> x + y) AS tp
      FROM bt{_BT_ROUNDS})
    SELECT b.lang, CAST(w.wins AS BIGINT) AS wins,
           ROUND(b.p, 6) AS bt_strength,
           ROUND(b.p / t.tp, 6) AS bt_share,
           CAST(ROW_NUMBER() OVER (ORDER BY b.p DESC, b.lang) AS INT)
             AS rank
    FROM bt{_BT_ROUNDS} b JOIN wtot w ON w.lang = b.lang, tot t
    ORDER BY rank
    """


def _solve3(m: str, g: str) -> dict[str, str]:
    """SQL fragments solving the symmetric 3x3 system A·d = g via the
    adjugate, where A's entries are aliases {m}11..{m}33 and the RHS is
    {g}1..{g}3. Shared verbatim between the Spark plan (F.expr) and the
    DuckDB oracle so both engines execute the identical double
    arithmetic."""
    a11, a12, a13 = f"{m}11", f"{m}12", f"{m}13"
    a22, a23, a33 = f"{m}22", f"{m}23", f"{m}33"
    g1, g2, g3 = f"{g}1", f"{g}2", f"{g}3"
    det = (
        f"({a11} * ({a22} * {a33} - {a23} * {a23}) "
        f"- {a12} * ({a12} * {a33} - {a23} * {a13}) "
        f"+ {a13} * ({a12} * {a23} - {a22} * {a13}))"
    )
    d1 = (
        f"((({a22} * {a33} - {a23} * {a23}) * {g1} "
        f"+ ({a13} * {a23} - {a12} * {a33}) * {g2} "
        f"+ ({a12} * {a23} - {a13} * {a22}) * {g3}) / {det})"
    )
    d2 = (
        f"((({a13} * {a23} - {a12} * {a33}) * {g1} "
        f"+ ({a11} * {a33} - {a13} * {a13}) * {g2} "
        f"+ ({a12} * {a13} - {a11} * {a23}) * {g3}) / {det})"
    )
    d3 = (
        f"((({a12} * {a23} - {a13} * {a22}) * {g1} "
        f"+ ({a12} * {a13} - {a11} * {a23}) * {g2} "
        f"+ ({a11} * {a22} - {a12} * {a12}) * {g3}) / {det})"
    )
    return {"d1": d1, "d2": d2, "d3": d3}


_LOGIT_S1 = _solve3("m", "g")
_LOGIT_S2 = _solve3("n", "h")


def _logistic_oracle() -> str:
    s1, s2 = _LOGIT_S1, _LOGIT_S2
    return f"""
    WITH per_user AS MATERIALIZED (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x1,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x2,
             CAST(CASE WHEN 5 * SUM(CASE WHEN event_type = 'error' THEN 1
                                    ELSE 0 END) > COUNT(*)
                  THEN 1 ELSE 0 END AS DOUBLE) AS y
      FROM events GROUP BY user_id),
    it1 AS MATERIALIZED (
      SELECT
        list_reduce(list(0.25 * 1 * 1 ORDER BY user_id), (a,b) -> a+b) AS m11,
        list_reduce(list(0.25 * x1 ORDER BY user_id), (a,b) -> a+b) AS m12,
        list_reduce(list(0.25 * x2 ORDER BY user_id), (a,b) -> a+b) AS m13,
        list_reduce(list(0.25 * x1 * x1 ORDER BY user_id), (a,b) -> a+b) AS m22,
        list_reduce(list(0.25 * x1 * x2 ORDER BY user_id), (a,b) -> a+b) AS m23,
        list_reduce(list(0.25 * x2 * x2 ORDER BY user_id), (a,b) -> a+b) AS m33,
        list_reduce(list((y - 0.5) ORDER BY user_id), (a,b) -> a+b) AS g1,
        list_reduce(list((y - 0.5) * x1 ORDER BY user_id), (a,b) -> a+b) AS g2,
        list_reduce(list((y - 0.5) * x2 ORDER BY user_id), (a,b) -> a+b) AS g3
      FROM per_user),
    b1 AS MATERIALIZED (
      SELECT {s1["d1"]} AS b0, {s1["d2"]} AS bx1, {s1["d3"]} AS bx2
      FROM it1),
    mu AS MATERIALIZED (
      SELECT p.user_id, p.x1, p.x2, p.y,
             1 / (1 + EXP(-(b.b0 + b.bx1 * p.x1 + b.bx2 * p.x2))) AS mu
      FROM per_user p, b1 b),
    it2 AS MATERIALIZED (
      SELECT
        list_reduce(list(mu * (1 - mu) ORDER BY user_id), (a,b) -> a+b) AS n11,
        list_reduce(list(mu * (1 - mu) * x1 ORDER BY user_id), (a,b) -> a+b) AS n12,
        list_reduce(list(mu * (1 - mu) * x2 ORDER BY user_id), (a,b) -> a+b) AS n13,
        list_reduce(list(mu * (1 - mu) * x1 * x1 ORDER BY user_id), (a,b) -> a+b) AS n22,
        list_reduce(list(mu * (1 - mu) * x1 * x2 ORDER BY user_id), (a,b) -> a+b) AS n23,
        list_reduce(list(mu * (1 - mu) * x2 * x2 ORDER BY user_id), (a,b) -> a+b) AS n33,
        list_reduce(list((y - mu) ORDER BY user_id), (a,b) -> a+b) AS h1,
        list_reduce(list((y - mu) * x1 ORDER BY user_id), (a,b) -> a+b) AS h2,
        list_reduce(list((y - mu) * x2 ORDER BY user_id), (a,b) -> a+b) AS h3
      FROM mu),
    b2 AS (
      SELECT b.b0 + {s2["d1"]} AS b0,
             b.bx1 + {s2["d2"]} AS bx1,
             b.bx2 + {s2["d3"]} AS bx2
      FROM it2, b1 b),
    nn AS (SELECT COUNT(*) AS n FROM per_user)
    SELECT CAST(nn.n AS BIGINT) AS n_users,
           ROUND(b2.b0, 6) AS intercept,
           ROUND(b2.bx1, 6) AS coef_clicks,
           ROUND(b2.bx2, 6) AS coef_views
    FROM b2, nn
    """


def _poisson_oracle() -> str:
    s1, s2 = _solve3("m", "g"), _solve3("n", "h")
    return f"""
    WITH per_user AS MATERIALIZED (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x1,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x2,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS y
      FROM events GROUP BY user_id),
    it1 AS MATERIALIZED (
      SELECT
        list_reduce(list(CAST(1 AS DOUBLE) ORDER BY user_id), (a,b) -> a+b) AS m11,
        list_reduce(list(x1 ORDER BY user_id), (a,b) -> a+b) AS m12,
        list_reduce(list(x2 ORDER BY user_id), (a,b) -> a+b) AS m13,
        list_reduce(list(x1 * x1 ORDER BY user_id), (a,b) -> a+b) AS m22,
        list_reduce(list(x1 * x2 ORDER BY user_id), (a,b) -> a+b) AS m23,
        list_reduce(list(x2 * x2 ORDER BY user_id), (a,b) -> a+b) AS m33,
        list_reduce(list((y - 1) ORDER BY user_id), (a,b) -> a+b) AS g1,
        list_reduce(list((y - 1) * x1 ORDER BY user_id), (a,b) -> a+b) AS g2,
        list_reduce(list((y - 1) * x2 ORDER BY user_id), (a,b) -> a+b) AS g3
      FROM per_user),
    b1 AS MATERIALIZED (
      SELECT {s1["d1"]} AS b0, {s1["d2"]} AS bx1, {s1["d3"]} AS bx2
      FROM it1),
    mu AS MATERIALIZED (
      SELECT p.user_id, p.x1, p.x2, p.y,
             EXP(b.b0 + b.bx1 * p.x1 + b.bx2 * p.x2) AS mu
      FROM per_user p, b1 b),
    it2 AS MATERIALIZED (
      SELECT
        list_reduce(list(mu ORDER BY user_id), (a,b) -> a+b) AS n11,
        list_reduce(list(mu * x1 ORDER BY user_id), (a,b) -> a+b) AS n12,
        list_reduce(list(mu * x2 ORDER BY user_id), (a,b) -> a+b) AS n13,
        list_reduce(list(mu * x1 * x1 ORDER BY user_id), (a,b) -> a+b) AS n22,
        list_reduce(list(mu * x1 * x2 ORDER BY user_id), (a,b) -> a+b) AS n23,
        list_reduce(list(mu * x2 * x2 ORDER BY user_id), (a,b) -> a+b) AS n33,
        list_reduce(list((y - mu) ORDER BY user_id), (a,b) -> a+b) AS h1,
        list_reduce(list((y - mu) * x1 ORDER BY user_id), (a,b) -> a+b) AS h2,
        list_reduce(list((y - mu) * x2 ORDER BY user_id), (a,b) -> a+b) AS h3
      FROM mu),
    b2 AS (
      SELECT b.b0 + {s2["d1"]} AS b0,
             b.bx1 + {s2["d2"]} AS bx1,
             b.bx2 + {s2["d3"]} AS bx2
      FROM it2, b1 b),
    nn AS (SELECT COUNT(*) AS n FROM per_user)
    SELECT CAST(nn.n AS BIGINT) AS n_users,
           ROUND(b2.b0, 6) AS intercept,
           ROUND(b2.bx1, 6) AS coef_clicks,
           ROUND(b2.bx2, 6) AS coef_views
    FROM b2, nn
    """


# Pinned 2-state HMM parameters (healthy / erratic usage): transition,
# per-state emission over the 5 event types, and the initial
# distribution. Configuration constants, identical in both engines.
_HMM_T = {"hh": 0.9, "he": 0.1, "eh": 0.3, "ee": 0.7}
_HMM_E = {
    "view": (0.4, 0.2),
    "click": (0.3, 0.15),
    "purchase": (0.15, 0.05),
    "signup": (0.1, 0.1),
    "error": (0.05, 0.5),
}
_HMM_INIT = (0.8, 0.2)


def _hmm_emission_sql(col: str, state: int) -> str:
    cases = " ".join(
        f"WHEN '{t}' THEN CAST({p[state]} AS DOUBLE)"
        for t, p in sorted(_HMM_E.items())
    )
    return f"(CASE {col} {cases} END)"


def _hmm_oracle() -> str:
    t = _HMM_T
    e1 = _hmm_emission_sql("event_type", 0)
    e2 = _hmm_emission_sql("event_type", 1)
    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos
      FROM events),
    capped AS (SELECT * FROM seq WHERE pos <= 100),
    mats AS (
      -- 2x2 matrix flattened row-major as DOUBLE[4]; the fold MUST use a
      -- list accumulator: DuckDB 1.0's struct_pack lambda updates the
      -- accumulator in place, so later fields would read already-written
      -- values (verified; list construction is not affected)
      SELECT user_id, pos,
             [CAST({t["hh"]} AS DOUBLE) * {e1},
              CAST({t["he"]} AS DOUBLE) * {e2},
              CAST({t["eh"]} AS DOUBLE) * {e1},
              CAST({t["ee"]} AS DOUBLE) * {e2}] AS mat
      FROM capped),
    folded AS (
      SELECT user_id,
             list_reduce(
               list(mat ORDER BY pos),
               (a, b) -> [a[1] * b[1] + a[2] * b[3],
                          a[1] * b[2] + a[2] * b[4],
                          a[3] * b[1] + a[4] * b[3],
                          a[3] * b[2] + a[4] * b[4]]) AS p,
             COUNT(*) AS len
      FROM mats GROUP BY user_id),
    lik AS (
      SELECT user_id, len,
             LN((CAST({_HMM_INIT[0]} AS DOUBLE) * p[1]
                 + CAST({_HMM_INIT[1]} AS DOUBLE) * p[3])
                + (CAST({_HMM_INIT[0]} AS DOUBLE) * p[2]
                   + CAST({_HMM_INIT[1]} AS DOUBLE) * p[4])) AS ll
      FROM folded)
    SELECT user_id, CAST(len AS BIGINT) AS seq_len,
           ROUND(ll, 6) AS log_likelihood,
           ROUND(ll / CAST(len AS DOUBLE), 6) AS per_event_ll,
           CAST(rk AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            ORDER BY ll / CAST(len AS DOUBLE) DESC, user_id) AS rk
          FROM lik)
    WHERE rk <= 20
    ORDER BY rank
    """


# Two-sided O'Brien-Fleming group-sequential z boundaries for K = 4
# equally-spaced looks at overall alpha 0.05 — published standard values,
# pinned identically in both engines.
_OBF_BOUNDS = [4.332634, 2.963131, 2.359044, 2.014090]


def _submod_oracle(rounds: int = 5) -> str:
    parts = [
        """dt AS MATERIALIZED (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id,
               unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
        FROM documents WHERE doc_id < 200)
      WHERE w <> ''),
    utot AS (SELECT COUNT(DISTINCT w) AS u FROM dt),
    cov0 AS MATERIALIZED (SELECT w FROM dt WHERE 1 = 0)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""g{r} AS MATERIALIZED (
      SELECT d.doc_id, COUNT(*) AS gain
      FROM dt d LEFT JOIN cov{r - 1} c ON c.w = d.w
      WHERE c.w IS NULL
      GROUP BY d.doc_id),
    w{r} AS MATERIALIZED (
      SELECT doc_id, gain FROM (
        SELECT doc_id, gain,
               ROW_NUMBER() OVER (ORDER BY gain DESC, doc_id) AS rn
        FROM g{r}) WHERE rn = 1),
    cov{r} AS MATERIALIZED (
      SELECT w FROM cov{r - 1}
      UNION
      SELECT d.w FROM dt d JOIN w{r} ON w{r}.doc_id = d.doc_id)"""
        )
    selects = "\n      UNION ALL\n".join(
        f"""      SELECT {r} AS round, w{r}.doc_id, w{r}.gain,
             (SELECT COUNT(*) FROM cov{r}) AS covered
      FROM w{r}"""
        for r in range(1, rounds + 1)
    )
    joined_parts = ",\n    ".join(parts)
    return f"""
    WITH {joined_parts},
    picks AS (
{selects})
    SELECT CAST(round AS INT) AS round, doc_id,
           CAST(gain AS BIGINT) AS marginal_gain,
           CAST(covered AS BIGINT) AS tokens_covered,
           ROUND(CAST(covered AS DOUBLE) / CAST(utot.u AS DOUBLE), 6)
             AS coverage_ratio
    FROM picks, utot
    ORDER BY round
    """


def _mmr_oracle(rounds: int = 5) -> str:
    cos = (
        "(list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) "
        "FOR i IN range(1, len(a.embedding)+1)], (x, y) -> x + y) "
        "/ (SQRT(list_reduce([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE) "
        "FOR i IN range(1, len(a.embedding)+1)], (x, y) -> x + y)) "
        "* SQRT(list_reduce([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) "
        "FOR i IN range(1, len(b.embedding)+1)], (x, y) -> x + y))))"
    )
    parts = [
        f"""rel AS MATERIALIZED (
      SELECT b.vec_id AS cid, {cos} AS rel
      FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id >= 5),
    sims AS MATERIALIZED (
      SELECT a.vec_id AS ca, b.vec_id AS cb, {cos} AS sim
      FROM embeddings a JOIN embeddings b
        ON a.vec_id >= 5 AND b.vec_id >= 5 AND a.vec_id <> b.vec_id),
    sel0 AS MATERIALIZED (SELECT cid FROM rel WHERE 1 = 0)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""sc{r} AS MATERIALIZED (
      SELECT rl.cid,
             CAST(0.7 AS DOUBLE) * rl.rel
             - CAST(0.3 AS DOUBLE)
               * COALESCE((SELECT MAX(s.sim) FROM sims s
                           JOIN sel{r - 1} sl ON sl.cid = s.cb
                           WHERE s.ca = rl.cid), CAST(0 AS DOUBLE))
               AS mmr
      FROM rel rl LEFT JOIN sel{r - 1} ex ON ex.cid = rl.cid
      WHERE ex.cid IS NULL),
    w{r} AS MATERIALIZED (
      SELECT cid, mmr FROM (
        SELECT cid, mmr,
               ROW_NUMBER() OVER (ORDER BY mmr DESC, cid) AS rn
        FROM sc{r}) WHERE rn = 1),
    sel{r} AS MATERIALIZED (
      SELECT cid FROM sel{r - 1} UNION ALL SELECT cid FROM w{r})"""
        )
    selects = "\n      UNION ALL\n".join(
        f"      SELECT {r} AS round, w{r}.cid, w{r}.mmr FROM w{r}"
        for r in range(1, rounds + 1)
    )
    joined_parts = ",\n    ".join(parts)
    return f"""
    WITH {joined_parts},
    picks AS (
{selects})
    SELECT CAST(p.round AS INT) AS round, p.cid AS vec_id,
           ROUND(p.mmr, 6) AS mmr_score,
           ROUND(r.rel, 6) AS relevance
    FROM picks p JOIN rel r ON r.cid = p.cid
    ORDER BY round
    """


def _ridge_oracle() -> str:
    s = _solve3("m", "g")
    return f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x1,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x2,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS y
      FROM events GROUP BY user_id),
    mom AS (
      SELECT
        list_reduce(list(CAST(1 AS DOUBLE) ORDER BY user_id),
                    (a,b) -> a+b) + CAST(10 AS DOUBLE) AS m11,
        list_reduce(list(x1 ORDER BY user_id), (a,b) -> a+b) AS m12,
        list_reduce(list(x2 ORDER BY user_id), (a,b) -> a+b) AS m13,
        list_reduce(list(x1 * x1 ORDER BY user_id), (a,b) -> a+b)
          + CAST(10 AS DOUBLE) AS m22,
        list_reduce(list(x1 * x2 ORDER BY user_id), (a,b) -> a+b) AS m23,
        list_reduce(list(x2 * x2 ORDER BY user_id), (a,b) -> a+b)
          + CAST(10 AS DOUBLE) AS m33,
        list_reduce(list(y ORDER BY user_id), (a,b) -> a+b) AS g1,
        list_reduce(list(x1 * y ORDER BY user_id), (a,b) -> a+b) AS g2,
        list_reduce(list(x2 * y ORDER BY user_id), (a,b) -> a+b) AS g3,
        COUNT(*) AS n
      FROM per_user)
    SELECT CAST(n AS BIGINT) AS n_users,
           ROUND({s["d1"]}, 6) AS intercept,
           ROUND({s["d2"]}, 6) AS coef_clicks,
           ROUND({s["d3"]}, 6) AS coef_views
    FROM mom
    """


def _expectile_oracle(rounds: int = 3) -> str:
    steps = []
    for r in range(1, rounds + 1):
        steps.append(
            f"""e{r} AS MATERIALIZED (
      SELECT
        list_reduce(list(
          (CASE WHEN d.y > (SELECT mu FROM e{r - 1})
                THEN CAST(0.9 AS DOUBLE) ELSE CAST(0.1 AS DOUBLE) END) * d.y
          ORDER BY d.d), (a, b) -> a + b)
        / list_reduce(list(
            CASE WHEN d.y > (SELECT mu FROM e{r - 1})
                 THEN CAST(0.9 AS DOUBLE) ELSE CAST(0.1 AS DOUBLE) END
            ORDER BY d.d), (a, b) -> a + b) AS mu
      FROM daily d)"""
        )
    its = ",\n    ".join(steps)
    return f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
      FROM orders GROUP BY 1),
    e0 AS MATERIALIZED (
      SELECT list_reduce(list(y ORDER BY d), (a, b) -> a + b)
             / CAST(COUNT(*) AS DOUBLE) AS mu
      FROM daily),
    {its},
    n AS (SELECT COUNT(*) AS n FROM daily)
    SELECT CAST(n.n AS BIGINT) AS n_days,
           ROUND((SELECT mu FROM e0), 6) AS mean_revenue,
           ROUND((SELECT mu FROM e{rounds}), 6) AS expectile_90
    FROM n
    """


def _huber_oracle(rounds: int = 2) -> str:
    steps = []
    for r in range(1, rounds + 1):
        steps.append(
            f"""h{r} AS MATERIALIZED (
      SELECT
        list_reduce(list(
          (CASE WHEN ABS(d.y - (SELECT mu FROM h{r - 1})) <= (SELECT k FROM scale)
                THEN CAST(1 AS DOUBLE)
                ELSE (SELECT k FROM scale)
                     / ABS(d.y - (SELECT mu FROM h{r - 1})) END) * d.y
          ORDER BY d.d), (a, b) -> a + b)
        / list_reduce(list(
            CASE WHEN ABS(d.y - (SELECT mu FROM h{r - 1})) <= (SELECT k FROM scale)
                 THEN CAST(1 AS DOUBLE)
                 ELSE (SELECT k FROM scale)
                      / ABS(d.y - (SELECT mu FROM h{r - 1})) END
            ORDER BY d.d), (a, b) -> a + b) AS mu
      FROM daily d)"""
        )
    its = ",\n    ".join(steps)
    return f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
      FROM orders GROUP BY 1),
    med AS MATERIALIZED (
      SELECT y AS m FROM (
        SELECT y, ROW_NUMBER() OVER (ORDER BY y, d) AS rn,
               COUNT(*) OVER () AS n
        FROM daily) WHERE rn = (n + 1) // 2),
    mad AS MATERIALIZED (
      SELECT dev AS mad FROM (
        SELECT ABS(daily.y - med.m) AS dev,
               ROW_NUMBER() OVER (ORDER BY ABS(daily.y - med.m), daily.d)
                 AS rn,
               COUNT(*) OVER () AS n
        FROM daily, med) WHERE rn = (n + 1) // 2),
    scale AS MATERIALIZED (
      SELECT CAST(1.5 AS DOUBLE) * mad.mad AS k FROM mad),
    h0 AS MATERIALIZED (SELECT m AS mu FROM med),
    {its},
    n AS (SELECT COUNT(*) AS n FROM daily)
    SELECT CAST(n.n AS BIGINT) AS n_days,
           ROUND((SELECT m FROM med), 6) AS median_start,
           ROUND((SELECT k FROM scale), 6) AS huber_k,
           ROUND((SELECT mu FROM h{rounds}), 6) AS huber_location
    FROM n
    """


# Granger causality: one engine-portable SQL text (the _OLS_SQL trick) —
# LAG windows + exact-decimal moment sums + the identical closed-form
# solve run verbatim by Spark SQL and DuckDB.
_GRANGER_SQL = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(18,2))
                  * CAST(0.001 AS DECIMAL(4,3)) AS DECIMAL(12,5)) AS y,
             CAST(COUNT(*) AS DECIMAL(8,0)) AS x
      FROM orders GROUP BY CAST(o_orderdate AS DATE)),
    lagged AS (
      SELECT y,
             LAG(y) OVER (ORDER BY day) AS a,
             LAG(x) OVER (ORDER BY day) AS b
      FROM daily),
    base AS (SELECT y AS z, a, b FROM lagged WHERE a IS NOT NULL),
    s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             COUNT(*) AS n_obs,
             CAST(ROUND(SUM(z), 2) AS DOUBLE) AS sz,
             CAST(ROUND(SUM(a), 2) AS DOUBLE) AS sa,
             CAST(SUM(b) AS DOUBLE) AS sb,
             CAST(ROUND(SUM(CAST(z * z AS DECIMAL(30,10))), 2) AS DOUBLE)
               AS szz,
             CAST(ROUND(SUM(CAST(a * a AS DECIMAL(30,10))), 2) AS DOUBLE)
               AS saa,
             CAST(SUM(CAST(b * b AS DECIMAL(20,0))) AS DOUBLE) AS sbb,
             CAST(ROUND(SUM(CAST(z * a AS DECIMAL(30,10))), 2) AS DOUBLE)
               AS sza,
             CAST(ROUND(SUM(CAST(z * b AS DECIMAL(30,5))), 2) AS DOUBLE)
               AS szb,
             CAST(ROUND(SUM(CAST(a * b AS DECIMAL(30,5))), 2) AS DOUBLE)
               AS sab
      FROM base),
    c AS (
      SELECT n, n_obs,
             saa - sa * sa / n AS caa, sab - sa * sb / n AS cab,
             sbb - sb * sb / n AS cbb, sza - sz * sa / n AS cza,
             szb - sz * sb / n AS czb, szz - sz * sz / n AS czz
      FROM s),
    fit AS (
      SELECT n, n_obs, czz, cza, czb, caa,
             (cbb * cza - cab * czb) / (caa * cbb - cab * cab) AS b1,
             (caa * czb - cab * cza) / (caa * cbb - cab * cab) AS b2
      FROM c),
    rss AS (
      SELECT n, n_obs, b1, b2,
             czz - cza * cza / caa AS rss_r,
             czz - b1 * cza - b2 * czb AS rss_u
      FROM fit)
    SELECT CAST(n_obs AS BIGINT) AS n_obs,
           ROUND(b1, 6) AS beta_rev_lag1,
           ROUND(b2, 6) AS beta_cnt_lag1,
           ROUND(rss_r / n, 4) AS mse_restricted,
           ROUND(rss_u / n, 4) AS mse_unrestricted,
           ROUND((rss_r - rss_u) * (n - 3) / rss_u, 6) AS granger_f
    FROM rss
    """


# PACF via Durbin-Levinson: one engine-portable SQL text (the _OLS_SQL
# trick). Autocovariances are assembled from EXACT integer moments
# (sum x_t*x_{t+k}, partial sums, N) so the only doubles are the final
# closed-form recursion, unrolled to lag 5.
_PACF_SQL = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS c
      FROM orders GROUP BY CAST(o_orderdate AS DATE)),
    lagged AS (
      SELECT c,
             LAG(c, 1) OVER (ORDER BY day) AS c1,
             LAG(c, 2) OVER (ORDER BY day) AS c2,
             LAG(c, 3) OVER (ORDER BY day) AS c3,
             LAG(c, 4) OVER (ORDER BY day) AS c4,
             LAG(c, 5) OVER (ORDER BY day) AS c5
      FROM daily),
    mom AS (
      SELECT COUNT(*) AS n, SUM(c) AS tot, SUM(c * c) AS s0,
             SUM(CASE WHEN c1 IS NOT NULL THEN c * c1 END) AS p1,
             SUM(CASE WHEN c1 IS NOT NULL THEN c END) AS h1,
             SUM(CASE WHEN c1 IS NOT NULL THEN c1 END) AS t1,
             SUM(CASE WHEN c2 IS NOT NULL THEN c * c2 END) AS p2,
             SUM(CASE WHEN c2 IS NOT NULL THEN c END) AS h2,
             SUM(CASE WHEN c2 IS NOT NULL THEN c2 END) AS t2,
             SUM(CASE WHEN c3 IS NOT NULL THEN c * c3 END) AS p3,
             SUM(CASE WHEN c3 IS NOT NULL THEN c END) AS h3,
             SUM(CASE WHEN c3 IS NOT NULL THEN c3 END) AS t3,
             SUM(CASE WHEN c4 IS NOT NULL THEN c * c4 END) AS p4,
             SUM(CASE WHEN c4 IS NOT NULL THEN c END) AS h4,
             SUM(CASE WHEN c4 IS NOT NULL THEN c4 END) AS t4,
             SUM(CASE WHEN c5 IS NOT NULL THEN c * c5 END) AS p5,
             SUM(CASE WHEN c5 IS NOT NULL THEN c END) AS h5,
             SUM(CASE WHEN c5 IS NOT NULL THEN c5 END) AS t5
      FROM lagged),
    gam AS (
      SELECT n,
             (CAST(s0 AS DOUBLE)
              - (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
                * CAST(tot + tot AS DOUBLE)
              + CAST(n AS DOUBLE)
                * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))
             / CAST(n AS DOUBLE) AS g0,
             (CAST(p1 AS DOUBLE)
              - (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
                * CAST(h1 + t1 AS DOUBLE)
              + CAST(n - 1 AS DOUBLE)
                * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))
             / CAST(n AS DOUBLE) AS g1,
             (CAST(p2 AS DOUBLE)
              - (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
                * CAST(h2 + t2 AS DOUBLE)
              + CAST(n - 2 AS DOUBLE)
                * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))
             / CAST(n AS DOUBLE) AS g2,
             (CAST(p3 AS DOUBLE)
              - (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
                * CAST(h3 + t3 AS DOUBLE)
              + CAST(n - 3 AS DOUBLE)
                * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))
             / CAST(n AS DOUBLE) AS g3,
             (CAST(p4 AS DOUBLE)
              - (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
                * CAST(h4 + t4 AS DOUBLE)
              + CAST(n - 4 AS DOUBLE)
                * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))
             / CAST(n AS DOUBLE) AS g4,
             (CAST(p5 AS DOUBLE)
              - (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
                * CAST(h5 + t5 AS DOUBLE)
              + CAST(n - 5 AS DOUBLE)
                * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))
             / CAST(n AS DOUBLE) AS g5
      FROM mom),
    rs AS (
      SELECT n, g1 / g0 AS r1, g2 / g0 AS r2, g3 / g0 AS r3,
             g4 / g0 AS r4, g5 / g0 AS r5
      FROM gam),
    d1 AS (
      SELECT n, r1, r2, r3, r4, r5,
             r1 AS f11,
             CAST(1 AS DOUBLE) - r1 * r1 AS v1
      FROM rs),
    d2 AS (
      SELECT n, r1, r2, r3, r4, r5, f11, v1,
             (r2 - f11 * r1) / v1 AS f22
      FROM d1),
    d2b AS (
      SELECT *, f11 - f22 * f11 AS f21,
             v1 * (CAST(1 AS DOUBLE) - f22 * f22) AS v2
      FROM d2),
    d3 AS (
      SELECT *, (r3 - (f21 * r2 + f22 * r1)) / v2 AS f33 FROM d2b),
    d3b AS (
      SELECT *, f21 - f33 * f22 AS f31, f22 - f33 * f21 AS f32,
             v2 * (CAST(1 AS DOUBLE) - f33 * f33) AS v3
      FROM d3),
    d4 AS (
      SELECT *, (r4 - ((f31 * r3 + f32 * r2) + f33 * r1)) / v3 AS f44
      FROM d3b),
    d4b AS (
      SELECT *, f31 - f44 * f33 AS f41, f32 - f44 * f32 AS f42,
             f33 - f44 * f31 AS f43,
             v3 * (CAST(1 AS DOUBLE) - f44 * f44) AS v4
      FROM d4),
    d5 AS (
      SELECT *,
             (r5 - (((f41 * r4 + f42 * r3) + f43 * r2) + f44 * r1)) / v4
               AS f55
      FROM d4b)
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND(r1, 6) AS acf_1, ROUND(r2, 6) AS acf_2,
           ROUND(r3, 6) AS acf_3, ROUND(r4, 6) AS acf_4,
           ROUND(r5, 6) AS acf_5,
           ROUND(f11, 6) AS pacf_1, ROUND(f22, 6) AS pacf_2,
           ROUND(f33, 6) AS pacf_3, ROUND(f44, 6) AS pacf_4,
           ROUND(f55, 6) AS pacf_5
    FROM d5
    """


def _em_fragments(acc: str, fold_open: str, fold_close: str):
    """Shared EM-step expression fragments. `acc` is the state row
    prefix ('acc' in the Spark fold, 'e' in the oracle's recursive CTE);
    the fold_open/fold_close pair wraps a per-bin term lambda body into
    that engine's sum-fold over the bin list. Both engines then execute
    the identical double arithmetic per bin and fold in bin order."""
    p1 = (
        f"({acc}.w * EXP(CAST(0 AS DOUBLE) - (r.x - {acc}.mu1)"
        f" * (r.x - {acc}.mu1) / (CAST(2 AS DOUBLE) * {acc}.v1))"
        f" / SQRT({acc}.v1))"
    )
    p2 = (
        f"((CAST(1 AS DOUBLE) - {acc}.w) * EXP(CAST(0 AS DOUBLE)"
        f" - (r.x - {acc}.mu2) * (r.x - {acc}.mu2)"
        f" / (CAST(2 AS DOUBLE) * {acc}.v2)) / SQRT({acc}.v2))"
    )
    g = f"({p1} / ({p1} + {p2}))"
    sw1 = f"{fold_open}r.c * {g}{fold_close}"
    sx1 = f"{fold_open}r.c * {g} * r.x{fold_close}"
    sq1 = f"{fold_open}r.c * {g} * r.x * r.x{fold_close}"
    return {
        "w": f"{sw1} / nd",
        "mu1": f"{sx1} / {sw1}",
        "v1": f"{sq1} / {sw1} - ({sx1} / {sw1}) * ({sx1} / {sw1})",
        "mu2": f"(sxc - {sx1}) / (nd - {sw1})",
        "v2": (
            f"(sqc - {sq1}) / (nd - {sw1})"
            f" - ((sxc - {sx1}) / (nd - {sw1}))"
            f" * ((sxc - {sx1}) / (nd - {sw1}))"
        ),
    }


def _em_oracle() -> str:
    f = _em_fragments(
        "e",
        "list_reduce(list_transform(bl, r -> ",
        "), (a, t) -> a + t)",
    )
    return f"""
    WITH RECURSIVE
    bins AS (
      SELECT CAST(FLOOR(o_totalprice / CAST(1000 AS DOUBLE)) AS BIGINT)
               AS b,
             COUNT(*) AS c
      FROM orders GROUP BY 1),
    blt AS (
      SELECT list(struct_pack(
               x := (CAST(b AS DOUBLE) + CAST(0.5 AS DOUBLE))
                    * CAST(1000 AS DOUBLE),
               c := c) ORDER BY b) AS bl
      FROM bins),
    mo AS (
      SELECT COUNT(*) AS n,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS s,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                            * CAST(o_totalprice AS DECIMAL(18,2))), 0)
                  AS DOUBLE) AS q
      FROM orders),
    cons AS (
      SELECT n, CAST(n AS DOUBLE) AS nd,
             s / CAST(n AS DOUBLE) AS m,
             q / CAST(n AS DOUBLE)
               - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)) AS v,
             bl,
             list_reduce(list_transform(bl, r -> r.c * r.x),
                         (a, t) -> a + t) AS sxc,
             list_reduce(list_transform(bl, r -> r.c * r.x * r.x),
                         (a, t) -> a + t) AS sqc
      FROM mo, blt),
    em(it, w, mu1, v1, mu2, v2) AS (
      SELECT 0, CAST(0.5 AS DOUBLE), m - SQRT(v), v, m + SQRT(v), v
      FROM cons
      UNION ALL
      SELECT e.it + 1,
             {f['w']}, {f['mu1']}, {f['v1']}, {f['mu2']}, {f['v2']}
      FROM em e, cons WHERE e.it < 3)
    SELECT CAST(cons.n AS BIGINT) AS n_orders,
           ROUND(CASE WHEN mu1 <= mu2 THEN w
                      ELSE CAST(1 AS DOUBLE) - w END, 6) AS weight_low,
           ROUND(CASE WHEN mu1 <= mu2 THEN mu1 ELSE mu2 END, 2) AS mu_low,
           ROUND(SQRT(CASE WHEN mu1 <= mu2 THEN v1 ELSE v2 END), 2)
             AS sigma_low,
           ROUND(CASE WHEN mu1 <= mu2 THEN mu2 ELSE mu1 END, 2) AS mu_high,
           ROUND(SQRT(CASE WHEN mu1 <= mu2 THEN v2 ELSE v1 END), 2)
             AS sigma_high,
           ROUND(ABS(mu2 - mu1)
                 / SQRT((v1 + v2) / CAST(2 AS DOUBLE)), 6) AS separation
    FROM em, cons WHERE it = 3
    """


def _cox_inner(sum_fold, acc: str, empty_guard):
    """Shared Cox partial-likelihood fold fragments. Per event-time r
    (sorted by time DESC so risk sets accumulate), the element vector is
    [sum e^bz, sum z e^bz, sum z^2 e^bz, sum z over events, #events];
    the running fold updates (S0,S1,S2,U,I) with the Breslow-ties score
    and information increments, reading the UPDATED S sums inline.
    `sum_fold(arr, body)` renders that engine's left-to-right sum of
    `body` (in lambda var z) over array expression `arr` — both engines
    add elements in the same sequence, so doubles match bit-for-bit."""
    se = sum_fold("r.zs", f"EXP({acc}.b * z)")
    sze = sum_fold("r.zs", f"z * EXP({acc}.b * z)")
    szze = sum_fold("r.zs", f"z * z * EXP({acc}.b * z)")
    szd = empty_guard(sum_fold("r.zev", "z"))
    return se, sze, szze, szd


_COX_STEP_NUMERIC = (
    "'s0', a.s0 + x.e1, 's1', a.s1 + x.e2, 's2', a.s2 + x.e3, "
    "'u', a.u + (x.e4 - x.e5 * ((a.s1 + x.e2) / (a.s0 + x.e1))), "
    "'i', a.i + x.e5 * ((a.s2 + x.e3) / (a.s0 + x.e1)"
    " - ((a.s1 + x.e2) / (a.s0 + x.e1))"
    " * ((a.s1 + x.e2) / (a.s0 + x.e1)))"
)


def _cox_oracle() -> str:
    se, sze, szze, szd = _cox_inner(
        lambda arr, body: (
            f"list_reduce(list_transform({arr}, z -> {body}), "
            "(a2, t2) -> a2 + t2)"
        ),
        "e",
        lambda s: f"CASE WHEN len(r.zev) = 0 THEN CAST(0 AS DOUBLE) ELSE {s} END",
    )
    inner = (
        "list_reduce(list_concat("
        "[[CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), "
        "CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]], "
        f"list_transform(tl.tl, r -> [{se}, {sze}, {szze}, {szd}, "
        "CAST(len(r.zev) AS DOUBLE)])), "
        "(a, x) -> [a[1] + x[1], a[2] + x[2], a[3] + x[3], "
        "a[4] + (x[4] - x[5] * ((a[2] + x[2]) / (a[1] + x[1]))), "
        "a[5] + x[5] * ((a[3] + x[3]) / (a[1] + x[1])"
        " - ((a[2] + x[2]) / (a[1] + x[1]))"
        " * ((a[2] + x[2]) / (a[1] + x[1])))])"
    )
    return f"""
    WITH RECURSIVE
    per_user AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE)) AS first_d,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS purch_d,
             MAX(CAST(ts AS DATE)) AS last_d,
             COUNT(*) AS cnt
      FROM events GROUP BY user_id),
    subj AS (
      SELECT CASE WHEN purch_d IS NOT NULL
                  THEN date_diff('day', first_d, purch_d)
                  ELSE date_diff('day', first_d, last_d) END AS t,
             CASE WHEN purch_d IS NOT NULL THEN 1 ELSE 0 END AS ev,
             LN(CAST(1 + cnt AS DOUBLE)) AS z
      FROM per_user),
    grp AS (
      SELECT t, list(z ORDER BY z) AS zs,
             list(z ORDER BY z) FILTER (ev = 1) AS zev
      FROM subj GROUP BY t),
    tl AS (
      SELECT list(struct_pack(zs := zs,
                              zev := COALESCE(zev, []))
                  ORDER BY t DESC) AS tl
      FROM grp),
    cnts AS (
      SELECT COUNT(*) AS n_subj, SUM(ev) AS n_ev FROM subj),
    cox(it, b, u, i) AS (
      SELECT 0, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
      FROM tl
      UNION ALL
      SELECT e.it + 1,
             e.b + ({inner})[4] / ({inner})[5],
             ({inner})[4],
             ({inner})[5]
      FROM cox e, tl WHERE e.it < 3)
    SELECT CAST(c.n_subj AS BIGINT) AS n_subjects,
           CAST(c.n_ev AS BIGINT) AS n_events,
           ROUND(x.b, 6) AS cox_beta,
           ROUND(EXP(x.b), 6) AS hazard_ratio,
           ROUND(CAST(1 AS DOUBLE) / SQRT(x.i), 6) AS beta_se,
           ROUND(x.b * SQRT(x.i), 6) AS wald_z
    FROM cox x, cnts c WHERE x.it = 3
    """


def _binseg_sql_parts():
    """Shared scalar expressions for binary segmentation. `cost` renders
    a segment's SSE from (sum-of-squares, sum, length) expressions —
    identical text runs on Spark SQL and DuckDB, so every double op
    matches. Prefix sums are exact decimals (revenue scaled to
    thousands; squared prefix ROUNDed to 2dp so the double cast stays
    under 2^53)."""
    cost = (
        lambda q, p, ln: f"(({q}) - ({p}) * ({p}) / CAST({ln} AS DOUBLE))"
    )
    total1 = (
        cost("q", "p", "i") + " + " + cost("qt - q", "pt - p", "n - i")
    )
    total2 = (
        "CASE WHEN i < k1 THEN "
        + cost("q", "p", "i")
        + " + "
        + cost("qk - q", "pk - p", "k1 - i")
        + " + "
        + cost("qt - qk", "pt - pk", "n - k1")
        + " ELSE "
        + cost("qk", "pk", "k1")
        + " + "
        + cost("q - qk", "p - pk", "i - k1")
        + " + "
        + cost("qt - q", "pt - p", "n - i")
        + " END"
    )
    sse0 = cost("qt", "pt", "n")
    return total1, total2, sse0


_BINSEG_T1, _BINSEG_T2, _BINSEG_SSE0 = _binseg_sql_parts()


# Pinned cos/sin of 2*pi*d/7 (d = 0..6, DuckDB day-of-week convention,
# Sunday = 0) — shared by the circular-statistics query; trig literals
# must be pinned because cos/sin are not bit-portable across engines.
_COS7 = (
    "[1.000000000000000e+00, 6.234898018587340e-01, -2.225209339563140e-01,"
    " -9.009688679024190e-01, -9.009688679024190e-01,"
    " -2.225209339563150e-01, 6.234898018587330e-01]"
)
_SIN7 = (
    "[0.000000000000000e+00, 7.818314824680300e-01, 9.749279121818240e-01,"
    " 4.338837391175580e-01, -4.338837391175580e-01,"
    " -9.749279121818240e-01, -7.818314824680300e-01]"
)


__all__ = [
    'Callable',
    'Iterator',
    'pd',
    'DataFrame',
    'SparkSession',
    'Window',
    'F',
    'tx',
    'op_cache',
    'asof_mod',
    'dedup_mod',
    'graph_mod',
    'mm_mod',
    'sim_mod',
    'skew_mod',
    'load_table',
    'SparkQuery',
    '_QUERIES',
    '_ORACLES',
    '_DEMO_QUERIES',
    'register',
    'register_demo',
    'queries',
    'demo_queries',
    'oracle_sql',
    'require_rows',
    '_REQUIRE_ROWS',
    '_t',
    '_DEC',
    '_DEC4',
    '_neardup_oracle',
    '_media_from_documents',
    '_SQL_CTE_TOP_CUSTOMERS',
    '_LATERAL_TOP_ORDER',
    '_rp_weight_sql',
    '_RP_ORACLE',
    '_MD5H',
    '_WORDS_SQL',
    '_minhash_oracle_ctes',
    '_JACCARD_SQL',
    '_minhash_portable_oracle',
    '_simhash_portable_oracle',
    '_winnow_portable_oracle',
    '_minhash_estimate_oracle',
    '_winnow_overlap_oracle',
    '_PR_EDGES_DEFAULT',
    '_PR_FINAL_DEFAULT',
    '_pagerank_oracle',
    '_kmeans_oracle',
    '_lsh_topk_oracle',
    '_hll_parts',
    '_hll_oracle',
    '_PORTABLE_H',
    '_PORTABLE_H_DUCK',
    '_bm25_oracle',
    '_entropy_terms_sql',
    '_VDOT_KNN',
    '_NB_WORDS',
    '_LANG_HITS_SQL',
    '_lpa_oracle',
    '_SPARSE_EDGES_CTE',
    '_band_sweep_oracle',
    '_QSTAGE_ROOT',
    '_qstage',
    '_NULL_AWARE_ANTI_SQL',
    '_OLS_SQL',
    '_stump_sql',
    '_LDIV_SQL',
    '_MASE_SQL',
    '_SPARSE_EDGES_SQL',
    '_kcore_oracle',
    '_heaps_oracle',
    '_SQL_UDF_QUERY',
    '_NET_PRICE_BODY',
    '_catalog_profile_oracle',
    '_BPE_MERGES',
    '_bpe_fold_duck',
    '_bpe_fold_spark',
    '_bpe_oracle',
    '_hll_merge_oracle',
    '_GROUP_BY_ALL_SQL',
    '_ref_integrity_oracle',
    '_REF_FKS',
    '_bpe_detok_oracle',
    '_DECORRELATE_SQL',
    '_WELFORD_SQL',
    '_REGR_SQL',
    '_VALUES_DIM_SQL',
    '_FM_BIT',
    '_fm_oracle',
    '_bpe_train_oracle',
    '_sssp_oracle',
    '_BOM_SQL_BODY',
    '_PAGINATION_SQL',
    '_HLL_SLIDING_ORACLE',
    '_HLL_SLIDING_SPARK',
    '_rrf_fusion_oracle',
    '_TEXTRANK_EDGES',
    '_TEXTRANK_FINAL',
    '_hll_intersection_oracle',
    '_det_walks_oracle',
    '_BLOOM_H_SPARK',
    '_MORTON_DUCK',
    '_MORTON_SPARK',
    '_kcenter_oracle',
    '_QUANTIFIED_SQL',
    '_ktruss_oracle',
    '_densest_oracle',
    '_rbo_oracle',
    '_NAMED_WINDOW_SQL',
    '_BH_CRIT',
    '_bh_crit_sql',
    '_MARKOV_STEPS',
    '_MARKOV_CHANNELS',
    '_markov_removal_oracle',
    '_BT_ROUNDS',
    '_bradley_terry_oracle',
    '_solve3',
    '_LOGIT_S1',
    '_LOGIT_S2',
    '_logistic_oracle',
    '_poisson_oracle',
    '_HMM_T',
    '_HMM_E',
    '_HMM_INIT',
    '_hmm_emission_sql',
    '_hmm_oracle',
    '_OBF_BOUNDS',
    '_submod_oracle',
    '_mmr_oracle',
    '_ridge_oracle',
    '_expectile_oracle',
    '_huber_oracle',
    '_GRANGER_SQL',
    '_PACF_SQL',
    '_em_fragments',
    '_em_oracle',
    '_cox_inner',
    '_COX_STEP_NUMERIC',
    '_cox_oracle',
    '_binseg_sql_parts',
    '_BINSEG_T1',
    '_BINSEG_T2',
    '_BINSEG_SSE0',
    '_COS7',
    '_SIN7',
]
