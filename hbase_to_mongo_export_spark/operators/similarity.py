"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``      — exact brute-force top-k: broadcast the (small)
  query set against the corpus, dot products via built-in higher-order
  functions (zip_with/aggregate — JVM-side, no Python), per-query top-k by
  window. The correctness baseline.

- ``lsh_topk``         — random-hyperplane LSH: bucket vectors by sign
  bits, search only the query's bucket (multi-probe over nearby buckets).
  The 100 TB path: candidate generation is an equi-join on bucket id, so
  cost scales with bucket occupancy, not corpus size. Hyperplanes are
  derived deterministically from a seed so results are reproducible.

- ``ivf_topk``         — IVF-style: k-means-ish centroids picked
  deterministically (hash-sampled), vectors assigned to nearest centroid;
  queries probe the ``nprobe`` nearest centroids. Same equi-join shape.

- The integer vector kernels — ``pq_codes`` / ``ivfpq_search`` (PQ codes
  and IVF+PQ search), ``kmeans_lloyd`` / ``centroid_means`` (Lloyd
  rounds), ``farthest_point`` (greedy k-center) and ``gram`` — share one
  shape: collect a small vector set once, run one exact int64 numpy
  pass over the Arrow batches of the scan, finish on the driver.
"""

from __future__ import annotations

import hashlib
import struct
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import _cache


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    exclude_self: bool = True,
    max_comparisons: int | None = 50_000_000,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: query_id, neighbor_id, rank, cosine. ``queries`` is broadcast —
    it must be the small side (driver-checked pattern: a handful to a few
    thousand probe vectors against an arbitrarily large corpus).

    This is the O(|queries| x |corpus|) VERIFICATION BASELINE, not the
    scale path. ``max_comparisons`` guards against misuse: if the scored
    cross-product would exceed it, raise instead of launching a job that
    can never finish at corpus scale (use ``lsh_topk``/``ivf_topk``).
    Pass ``max_comparisons=None`` to opt out explicitly. The two counts
    are metadata-cheap (column-pruned parquet count / small query side)."""
    if max_comparisons is not None:
        n_q = queries.count()
        n_c = corpus.count()
        if n_q * n_c > max_comparisons:
            raise ValueError(
                f"cosine_topk is the brute-force verification baseline: "
                f"{n_q} queries x {n_c} corpus rows = {n_q * n_c:,} "
                f"comparisons exceeds max_comparisons={max_comparisons:,}. "
                f"Use lsh_topk or ivf_topk for large corpora, or pass "
                f"max_comparisons=None to force."
            )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    joined = c.join(F.broadcast(q), how="cross")
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("q_vec"), F.col("c_vec")).alias("__cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round(F.col("__cos"), 6).alias("cosine"),
        )
    )


def _hyperplanes(dim: int, n_planes: int, seed: str = "lsh") -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes from md5 — no RNG
    state, reproducible across runs/executors."""
    planes = []
    for p in range(n_planes):
        vals = []
        for d in range(0, dim, 4):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()
            vals.extend(struct.unpack("<4i", h))
        planes.append([v / 2**31 for v in vals[:dim]])
    return planes


def _lit_vec(xs) -> Column:
    """Literal double array built as ONE parsed expression.

    ``F.array(*[F.lit(x) ...])`` costs one py4j round-trip per element;
    a dim-64 plane set built that way spends seconds of pure DRIVER
    latency constructing the query (measured: similarity_lsh_topk spent
    6-9 s in DataFrame build vs 1.8 s executing). One ``F.expr`` string
    is a single round-trip; the server-side parse of a flat literal
    array is microseconds. repr() round-trips doubles exactly and
    CAST(string AS DOUBLE) is correctly rounded, so the folded literals
    are bit-identical to the F.lit form."""
    vals = ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in xs)
    return F.expr(f"array({vals})")


def bucket_id(vec, planes: list[list[float]]):
    """Sign-bit bucket id for a vector column given literal hyperplanes."""
    bits = []
    for i, plane in enumerate(planes):
        lit_plane = _lit_vec(plane)
        bits.append(
            F.when(_dot(vec, lit_plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int = 6,
    n_tables: int = 8,
    multiprobe: int = 1,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k via ``n_tables`` independent hyperplane hash
    tables: candidates share the query's bucket in ANY table (plus buckets
    within ``multiprobe`` flipped bits), then exact cosine + window top-k
    on the candidate set only.

    Recall ≈ 1-(1-p^planes)^tables for per-plane agreement p — one table
    alone has poor recall in high dimension; independent tables are the
    standard remedy and cost a linear factor in candidate generation
    (corpus rows × tables in the bucket join, still no O(n²) stage)."""
    tables = [
        _hyperplanes(dim, n_planes, seed=f"lsh{t}") for t in range(n_tables)
    ]

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).withColumn(
        "bucket",
        F.explode(
            F.array(
                *[
                    # table id folded into the bucket id's high bits
                    bucket_id(F.col("c_vec"), tp) + F.lit(t << n_planes)
                    for t, tp in enumerate(tables)
                ]
            )
        ),
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    # Each table's base bucket is computed ONCE and the multiprobe
    # variants are derived from the computed value by XOR inside a
    # transform lambda. The naive form (one expression per probe)
    # duplicated the full bucket_id tree — n_planes dot products over
    # dim-length literal arrays — (1 + n_planes) times per table:
    # 56 copies at the defaults, a ~340 KB physical plan that the
    # optimizer re-walks on every AQE replan, and (1 + n_planes)× the
    # per-row hashing work. Same probe multiset, so results are
    # identical.
    bases = F.array(
        *[
            bucket_id(F.col("q_vec"), tp) + F.lit(t << n_planes)
            for t, tp in enumerate(tables)
        ]
    )
    if multiprobe >= 1:
        flips = F.array(F.lit(0), *[F.lit(1 << i) for i in range(n_planes)])
        probe_arr = F.flatten(
            F.transform(
                bases, lambda b: F.transform(flips, lambda m: b.bitwiseXOR(m))
            )
        )
    else:
        probe_arr = bases
    q = q.withColumn("bucket", F.explode(probe_arr))

    joined = c.join(F.broadcast(q), "bucket")
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id", "neighbor_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("__cos")
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("__cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank", F.round("__cos", 6).alias("cosine")
        )
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: bucket by hyperplane signs,
    exact-verify cosine within buckets. Output (id_a, id_b, cosine)."""
    planes = _hyperplanes(dim, n_planes, seed="neardup")
    base = df.select(
        F.col(id_col), F.col(vec_col).alias("v")
    ).withColumn("bucket", bucket_id(F.col("v"), planes))
    # hint("merge"): both sides are the full embedding table — a
    # mis-estimated broadcast would collect it to the driver
    # (SCALE_EVIDENCE.md §1)
    base = base.hint("merge")
    a = base.alias("a")
    b = base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= threshold)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-style approximate top-k: vectors are assigned to their nearest
    centroid (inverted lists); queries probe the ``nprobe`` nearest
    centroids and run exact cosine only inside those lists.

    Centroids are hash-sampled deterministically from the corpus (the
    ``n_centroids`` smallest xxhash64(id) rows) — no iterative k-means, no
    RNG, reproducible across runs. At 100 TB the assignment is a narrow
    projection against broadcast centroid literals and candidate
    generation is an equi-join on centroid id; quality tracks how well the
    sampled centroids cover the distribution (plug in trained centroids
    for production-grade recall).
    """
    sampled = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("__h", F.xxhash64(F.col(id_col).cast("string")))
        .orderBy("__h")
        .limit(n_centroids)
        .collect()
    )
    centroids = [list(r[1]) for r in sampled]

    def nearest(vec, topn: int):
        """Array of the ``topn`` nearest centroid ids for a vector column."""
        dists = F.array(
            *[
                F.struct(
                    (-cosine(vec, _lit_vec(c))).alias("d"),
                    F.lit(i).alias("cid"),
                )
                for i, c in enumerate(centroids)
            ]
        )
        return F.transform(
            F.slice(F.array_sort(dists), 1, topn), lambda s: s["cid"]
        )

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("cid", nearest(F.col("c_vec"), 1)[0])

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("cid", F.explode(nearest(F.col("q_vec"), nprobe)))

    joined = c.join(F.broadcast(q), "cid")
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id", "neighbor_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("__cos")
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("__cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank", F.round("__cos", 6).alias("cosine")
        )
    )


def sq_l2(a, b):
    """Squared L2 distance between two float arrays, accumulated left-to-
    right in double — the element order is the array order, so the result
    is bit-deterministic."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def centroid_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Assign every vector to its nearest centroid (squared L2, ties by
    lowest centroid id) — the inner step of Lloyd's k-means and of IVF
    list assignment. The centroid table broadcasts; the scan side never
    shuffles, so this scales linearly with the corpus."""
    c = centroids.select(
        F.col(centroid_id_col), F.col(vec_col).alias("__c_vec")
    )
    scored = emb.join(F.broadcast(c)).select(
        F.col(id_col),
        F.col(centroid_id_col),
        sq_l2(F.col(vec_col), F.col("__c_vec")).alias("dist"),
    )
    w = Window.partitionBy(id_col).orderBy("dist", centroid_id_col)
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, centroid_id_col, "dist")
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.3,
    max_df_ratio: float = 0.5,
    n: int = 1,
    max_df_count: int | None = None,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity join via an inverted index, with
    EXACT-DECIMAL dot products so the result is bit-stable across
    partitionings (a plain double sum over a shuffled term join would
    differ run-to-run in the last ulp).

    Weights: w(d, t) = tf * round(ln(N / df), 6) rounded to DECIMAL(18,6)
    — the round-then-cast freezes the one libm-dependent value (ln), after
    which every product and sum is exact decimal arithmetic. Cosine =
    dot / (||a||·||b||) computed once per candidate pair in DOUBLE at the
    very end.

    Plan: tokenize → (doc, term, tf) aggregate → df/idf broadcast join →
    inverted-index self-join on term (cost ∝ Σ_term df(term)²) → pair-sum
    decimal aggregate → two joins to per-doc norms.

    ``max_df_ratio`` is the stop-list that makes the join feasible: terms
    appearing in more than that fraction of documents are EXCLUDED from
    the weight table (their idf ≈ 0 contributes almost nothing to cosine
    but their df² dominates the join cost — a single term in half the
    corpus yields (N/2)² join rows). This is scikit-learn's ``max_df``;
    norms are computed AFTER the cut so the cosine stays a true cosine of
    the pruned vectors.

    ``n`` sets the term granularity: n=1 scores shared vocabulary, n>=2
    scores shared phrasing (and keeps dfs small when the base vocabulary
    is tiny, which also keeps the index join cheap).

    ``max_df_count`` is the SCALE guard the fractional cut cannot be: a
    fraction still admits terms with df ∝ N, whose df² join blow-up is
    what makes a degenerate shard (closed vocabulary, boilerplate)
    super-linear — the measured sf1 exponent 1.12 on the closed-vocab
    synthetic corpus (SCALE_EVIDENCE.md §4). An ABSOLUTE cap bounds
    every term's join contribution to max_df_count², so total cost is
    ≤ vocab × cap² — linear in corpus when vocabulary growth is
    sublinear. Pairs that share ONLY capped terms are lost (recall
    cost, measured in SCALE_EVIDENCE.md §4); surviving cosines change
    only by the capped terms' near-zero idf weight. Default ``None``
    (off) keeps exact oracle parity."""
    from .dedup import word_ngrams

    tok = df.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("t"),
    )
    tf = tok.groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.filter(F.trim(F.col(text_col)) != "").agg(
        F.count(F.lit(1)).alias("n")
    )
    # dfreq is vocabulary-sized (unbounded at corpus scale — billions of
    # n-grams at 100 TB), so it must NOT be broadcast: the join is already
    # keyed on `t`, and a shuffle join / AQE handles any size. n_docs is a
    # single row — broadcast is correct there.
    df_gate = F.col("df").cast("double") <= F.lit(max_df_ratio) * F.col(
        "n"
    ).cast("double")
    if max_df_count is not None:
        df_gate = df_gate & (F.col("df") <= F.lit(int(max_df_count)))
    weights = (
        tf.join(dfreq, "t")
        .join(F.broadcast(n_docs))
        .filter(df_gate)
        .select(
            F.col(id_col),
            F.col("t"),
            F.round(
                F.col("tf").cast("double")
                * F.round(
                    F.log(F.col("n").cast("double") / F.col("df").cast("double")),
                    6,
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("w"),
        )
    )
    # the weight table feeds three consumers (norms + both join sides);
    # materialize it once instead of re-running tokenize+tf+idf per branch.
    # Registered so the query's owner releases it after the consuming action
    # (see operators/_cache.py).
    weights = _cache.reuse(weights)
    norms = weights.groupBy(id_col).agg(
        F.sum(F.col("w") * F.col("w")).alias("norm_sq")
    )
    # hint("merge"): the inverted-index self-join sides are corpus-sized
    # (SCALE_EVIDENCE.md §1); the cached table's runtime size is known
    # to AQE, but the static planner must never pick broadcast here
    a, b = weights.hint("merge").alias("a"), weights.hint("merge").alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("norm_sq").alias("nsq_a"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("norm_sq").alias("nsq_b"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(
                    F.col("nsq_a").cast("double") * F.col("nsq_b").cast("double")
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def quantize_for_kmeans(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Integer quantization for exact-arithmetic k-means: x*64 is an
    exact power-of-2 float scale, +128 keeps every value (and therefore
    every centroid sum) non-negative so integer division truncates the
    same way in every engine. The GREATEST(0, ...) clamp ENFORCES the
    non-negativity precondition for inputs below -2 (where Spark's
    ``div`` truncates toward zero but DuckDB's ``//`` floors, silently
    breaking cross-engine parity) — the oracle applies the same clamp."""
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.expr(
            f"transform({vec_col}, x -> GREATEST(CAST(ROUND(CAST(x AS DOUBLE) * 64, 0) AS INT) + 128, 0))"
        ).alias("qv"),
    )


class _PQIndex(NamedTuple):
    """The small sets the PQ kernel closes over, ids ascending so every
    ``argmin`` and stable sort breaks a distance tie to the lowest id."""

    code_ids: np.ndarray  # (k,)
    codebook: np.ndarray  # (k, dim)
    list_ids: np.ndarray  # (c,) coarse centroid ids
    coarse: np.ndarray  # (c, dim)
    probe_ids: np.ndarray  # (p,)
    probes: np.ndarray  # (p, dim)
    probe_lists: np.ndarray | None  # (p, nprobe); None: no IVF stage
    lut: np.ndarray  # (subs, p, k) probe-to-codeword squared L2


PQ_SUB_DIM = 8  # PQ subspace s holds dimensions [8s, 8s + 8)


def _block_sq_dists(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Squared L2 from every row of ``x`` to every row of ``c`` in each
    PQ subspace: an int64 (subs, len(x), len(c)) array. Integer sums are
    exact in any order."""
    w = PQ_SUB_DIM
    return np.stack(
        [
            np.square(x[:, None, s : s + w] - c[None, :, s : s + w]).sum(axis=2)
            for s in range(0, x.shape[1], w)
        ]
    )


def _pq_kernel(x: np.ndarray, index: _PQIndex):
    """The shared integer vector kernel. For each row of the int64
    matrix ``x``: the nearest coarse list (None without an IVF stage),
    the PQ code (codeword id) of every subspace and its squared error,
    and per probe the ADC sum (the probe's lookup-table distances to the
    row's codewords) and the exact squared L2. All int64 and every tie
    to the lowest id, so the values are the integer SQL plan's."""
    code_d = _block_sq_dists(x, index.codebook)
    code = code_d.argmin(axis=2)
    err = np.take_along_axis(code_d, code[:, :, None], axis=2)[:, :, 0]
    lists = None
    if index.probe_lists is not None:
        near = _block_sq_dists(x, index.coarse).sum(axis=0).argmin(axis=1)
        lists = index.list_ids[near]
    adist = np.take_along_axis(index.lut, code[:, None, :], axis=2).sum(axis=0)
    edist = _block_sq_dists(x, index.probes).sum(axis=0)
    return lists, index.code_ids[code].T, err.T, adist.T, edist


def collect_vectors(qz: DataFrame, n: int) -> tuple[np.ndarray, np.ndarray]:
    """The small vector set a kernel closes over: the vectors with
    ``vec_id < n`` that exist, collected in one job (so a DuckDB oracle
    replays it with ``vec_id < n``), as their ids ascending and an int64
    (len, dim) matrix. Ids ascend, so every ``argmin`` over the set breaks
    a distance tie to the lowest id. Null and empty vectors are skipped,
    as ``posexplode`` skips them."""
    vecs = qz.filter(F.col("vec_id") < n).select("vec_id", "qv").collect()
    rows = sorted(r for r in vecs if r[1])
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    return ids, np.array([r[1] for r in rows], dtype=np.int64)


def _map_vectors(qz, fn, schema, dim=None, key=None) -> DataFrame:
    """Map ``fn(ids, x)`` over the Arrow batches of ``qz``'s (vec_id, qv)
    vectors, ``x`` being the batch's int64 (rows, dim) matrix; ``fn``
    returns the output columns. A pass-through ``key`` column reaches
    ``fn`` as a third argument. Null and empty vectors are skipped here,
    not by a Spark filter, which would evaluate ``qv`` once more; every
    other vector needs dimension ``dim`` (without one, the dimension of
    its batch's first vector).

    Nothing repartitions the scan: the kernel runs in as many tasks as
    the scan gives, with no exchange before it. Each task running at once
    holds a Python worker (numpy, pyarrow, a batch of vectors), so more
    tasks would raise peak memory for little gain on a cheap kernel."""

    cols = ["vec_id", "qv"] + ([key] if key else [])

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            qv = batch.column(1)
            sizes = qv.value_lengths().fill_null(0).to_numpy()
            keep = sizes > 0
            if not keep.any():
                continue
            want = sizes[keep][0] if dim is None else dim
            if (sizes[keep] != want).any():
                raise ValueError(f"every vector needs dimension {want}")
            x = qv.flatten().to_numpy().astype(np.int64).reshape(-1, want)
            ids, *keys = [batch.column(c).to_numpy()[keep] for c in cols if c != "qv"]
            yield pa.RecordBatch.from_pydict(fn(ids, x, *keys))

    return qz.select(*cols).mapInArrow(run, schema)


def _pq_map(qz, emit, schema, n_codes, n_lists=0, n_probes=0, nprobe=0):
    """Map ``emit(ids, x, index)`` over the vectors' Arrow batches. The
    codebook, coarse centroids and probes are the vectors with ``vec_id``
    below ``n_codes``, ``n_lists`` and ``n_probes``, collected in one
    job."""
    ids, mat = collect_vectors(qz, max(n_codes, n_lists, n_probes))
    if not (ids < n_codes).any() or (n_lists and not (ids < n_lists).any()):
        msg = f"no codewords (vec_id < {n_codes}) or coarse lists (< {n_lists})"
        raise ValueError(msg)
    sets = [(ids[ids < m], mat[ids < m]) for m in (n_codes, n_lists, n_probes)]
    (code_ids, codebook), (list_ids, coarse), (probe_ids, probes) = sets
    probe_lists = None
    if n_lists:
        near = np.argsort(_block_sq_dists(probes, coarse).sum(axis=0), kind="stable")
        probe_lists = list_ids[near[:, :nprobe]]
    lut = _block_sq_dists(probes, codebook)
    index = _PQIndex(*sets[0], *sets[1], *sets[2], probe_lists, lut)
    return _map_vectors(qz, lambda ids, x: emit(ids, x, index), schema, mat.shape[1])


def pq_codes(qz: DataFrame, n_codes: int = 16) -> DataFrame:
    """Product-quantization codes: each PQ subspace of each vector
    snapped to its nearest codeword, from the vectors with ``vec_id <
    n_codes``. One row per vector and subspace: (vec_id, sub, cid, dist),
    ``dist`` being the squared quantization error."""

    def emit(ids, x, index):
        _, code, err, _, _ = _pq_kernel(x, index)
        subs = np.arange(code.shape[1], dtype=np.int32)
        return dict(
            vec_id=np.repeat(ids, len(subs)),
            sub=np.tile(subs, len(ids)),
            cid=code.ravel(),
            dist=err.ravel(),
        )

    return _pq_map(qz, emit, "vec_id long, sub int, cid long, dist long", n_codes)


def ivfpq_candidates(
    qz: DataFrame,
    n_probes: int,
    n_codes: int = 16,
    n_lists: int = 0,
    nprobe: int = 1,
    *,
    keep: int,
) -> DataFrame:
    """Scored PQ search candidates: (pid, xid, adist, edist) for each
    probe ``pid`` (``vec_id < n_probes``) and candidate ``xid != pid``;
    ``adist`` is the ADC distance through the ``pq_codes`` codes,
    ``edist`` the exact squared L2. With ``n_lists`` coarse centroids, a
    vector is a candidate of the probes whose ``nprobe`` nearest lists
    hold its nearest list; with none, of every probe.

    ``keep`` cuts top-k inside each Arrow batch: per probe, a batch emits
    only its first ``keep`` candidates by (adist, xid) and by (edist,
    xid). The global first ``keep`` in either order are a subset of the
    union of the batches' first ``keep``, so a ``row_number`` window over
    this output ranks them exactly as over all candidates."""

    def emit(ids, x, index):
        lists, _, _, adist, edist = _pq_kernel(x, index)
        picks = [np.empty((2, 0), dtype=np.intp)]
        for j, pid in enumerate(index.probe_ids):
            cand = ids != pid
            if lists is not None:
                cand &= np.isin(lists, index.probe_lists[j])
            rows = np.flatnonzero(cand)
            firsts = [
                rows[np.lexsort((ids[rows], d[rows, j]))[:keep]] for d in (adist, edist)
            ]
            rows = np.union1d(*firsts)
            picks.append(np.stack([rows, np.full(len(rows), j)]))
        r, j = np.concatenate(picks, axis=1)
        pid = index.probe_ids[j]
        return dict(pid=pid, xid=ids[r], adist=adist[r, j], edist=edist[r, j])

    schema = "pid long, xid long, adist long, edist long"
    return _pq_map(qz, emit, schema, n_codes, n_lists, n_probes, nprobe)


def ivfpq_search(
    qz: DataFrame,
    n_probes: int = 3,
    n_codes: int = 16,
    n_lists: int = 8,
    nprobe: int = 2,
    k_adc: int = 20,
    k: int = 10,
) -> DataFrame:
    """IVF+PQ search (the FAISS shape): each probe's candidates from its
    ``nprobe`` nearest lists, ranked by ADC to the first ``k_adc`` and
    re-ranked by exact squared L2 to the first ``k``, ties to the lower
    id: (probe_id, neighbor_id, rank, l2_sq). One small exchange feeds
    both windows: at most 2 x k_adc rows per Arrow batch and probe."""
    by_adc = Window.partitionBy("pid").orderBy("adist", "xid")
    by_l2 = Window.partitionBy("pid").orderBy("edist", "xid")
    return (
        ivfpq_candidates(qz, n_probes, n_codes, n_lists, nprobe, keep=k_adc)
        .withColumn("adc_rank", F.row_number().over(by_adc))
        .filter(F.col("adc_rank") <= k_adc)
        .withColumn("rank", F.row_number().over(by_l2))
        .filter(F.col("rank") <= k)
        .select(
            F.col("pid").alias("probe_id"),
            F.col("xid").alias("neighbor_id"),
            F.col("rank").cast("int"),
            F.col("edist").alias("l2_sq"),
        )
    )


def centroid_means(qz: DataFrame, cids, cents, key: str | None = None):
    """One Lloyd assignment and update: each vector goes to its nearest
    centroid (squared L2; ``cids`` ascend, so ties go to the lowest id),
    each Arrow batch emits per cluster its member count and int64
    coordinate sums, one row per cluster and dimension, and one
    ``groupBy`` sums the batches. With a pass-through ``key`` column the
    clusters are split by its value as well. Returns ``(groups, sizes,
    means)`` for every cluster that kept a member, in group order —
    ``groups`` are cids, or (key, cid) rows with a ``key``; ``means`` are
    the integer means, which floor division gives exactly as SQL ``div``
    does on the non-negative quantized sums. A cluster that lost every
    member is absent: nothing refills it."""
    by = ([key] if key else []) + ["cid"]
    dim = cents.shape[1]

    def emit(ids, x, *keys):
        near = _block_sq_dists(x, cents).sum(axis=0).argmin(axis=1)
        groups = np.stack([*keys, cids[near]], axis=1)
        uniq, inv = np.unique(groups, axis=0, return_inverse=True)
        sums = np.zeros((len(uniq), dim), dtype=np.int64)
        np.add.at(sums, inv.ravel(), x)
        out = dict(zip(by, np.repeat(uniq, dim, axis=0).T))
        out["pos"] = np.tile(np.arange(dim, dtype=np.int32), len(uniq))
        out["s"] = sums.ravel()
        out["n"] = np.repeat(np.bincount(inv.ravel()), dim)
        return out

    schema = ", ".join(f"{c} long" for c in by) + ", pos int, s long, n long"
    sums = _map_vectors(qz, emit, schema, dim, key)
    rows = sorted(sums.groupBy(*by, "pos").agg(F.sum("s"), F.sum("n")).collect())
    a = np.array(rows, dtype=np.int64).reshape(-1, dim, len(by) + 3)
    groups = a[:, 0, : len(by)] if key else a[:, 0, 0]
    sizes = a[:, 0, -1]
    return groups, sizes, a[:, :, -2] // sizes[:, None]


def kmeans_lloyd(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    rounds: int = 1,
) -> DataFrame:
    """``rounds`` synchronous Lloyd iterations in EXACT integer
    arithmetic (see ``quantize_for_kmeans``); the first k vectors seed
    the centroids; assignment ties break to the lowest centroid id;
    centroid updates are integer means. Returns (cluster_id, n_members,
    centroid) after the final round — bit-identical across engines and
    partitionings, so a DuckDB oracle can replay every round.

    Plan: the seeds are collected once (``collect_vectors``); each round
    is one Arrow-batch kernel pass over the scan and one small (cluster,
    dim) sum (``centroid_means``), and the driver takes the integer means
    — no cross join and no row per dimension. Clusters that lose all
    members drop out identically in both engines (no refill rule)."""
    if rounds < 1:
        raise ValueError(f"kmeans_lloyd needs rounds >= 1, got {rounds}")
    # every pass reads the quantized vectors: cache them once rather than
    # re-run the quantizing transform (an interpreted lambda) per round
    q = _cache.reuse(quantize_for_kmeans(df, id_col, vec_col))
    # seed = the k vectors with ids 0..k-1 (a deterministic choice the
    # DuckDB oracle can replay with WHERE vec_id < k). This assumes dense
    # integer ids — verify it instead of silently clustering with fewer
    # than k seeds on sparse/non-integer id spaces.
    try:
        cids, cents = collect_vectors(q, k)
        if len(cids) != k:
            raise ValueError(
                f"kmeans_lloyd seeds centroids from ids 0..{k - 1} but found "
                f"{len(cids)} vectors with {id_col} < {k}; ids must be dense "
                f"integers starting at 0 (re-key with row_number() first)"
            )
        for _ in range(rounds):
            cids, sizes, cents = centroid_means(q, cids, cents)
    finally:
        _cache.release(q)
    return df.sparkSession.createDataFrame(
        list(zip(cids.tolist(), sizes.tolist(), cents.tolist())),
        "cluster_id bigint, n_members bigint not null, centroid array<int> not null",
    )


def farthest_point(qz: DataFrame, ids, centers):
    """Greedy k-center's step: among the vectors that are not ``centers``
    (by their ``ids``), the one farthest (squared L2) from its nearest
    center, ties to the lowest id — ``(vec_id, dist, vector)``, or None
    when every vector is a center. Each Arrow batch emits its own
    farthest vector, and one ordered take picks the winner."""
    ids, centers = np.asarray(ids), np.asarray(centers, dtype=np.int64)

    def emit(vid, x):
        import pyarrow as pa

        dist = _block_sq_dists(x, centers).sum(axis=0).min(axis=1)
        rows = np.flatnonzero(~np.isin(vid, ids))
        best = rows[np.lexsort((vid[rows], -dist[rows]))[:1]]
        qv = pa.array(x[best].tolist(), pa.list_(pa.int64()))
        return dict(vec_id=vid[best], dist=dist[best], qv=qv)

    schema = "vec_id long, dist long, qv array<long>"
    far = _map_vectors(qz, emit, schema, centers.shape[1])
    top = far.orderBy(F.desc("dist"), "vec_id").limit(1).collect()
    return tuple(top[0]) if top else None


def kcenter_greedy(qz: DataFrame, k: int) -> tuple[list[int], int, int]:
    """Greedy k-center (Gonzalez): the first center is the lowest
    ``vec_id``, each next one the ``farthest_point`` from the centers so
    far. Returns the k center ids in pick order, the coverage radius (the
    squared distance from the farthest vector to its nearest center,
    found by one more pass) and the row count of ``qz``, which comes from
    the same aggregate as the first center. ``qz`` is cached for the
    k + 1 passes and released after them."""
    qz = _cache.reuse(qz)
    try:
        first, vec, n = qz.agg(
            F.min("vec_id"), F.min_by("qv", "vec_id"), F.count(F.lit(1))
        ).collect()[0]
        if not vec:
            raise ValueError(f"the first k-center, vec_id {first}, has no vector")
        ids, vecs = [first], [vec]
        for _ in range(k - 1):
            far = farthest_point(qz, ids, vecs)
            if far is None:
                raise ValueError(f"k-center needs {k} vectors")
            ids.append(far[0])
            vecs.append(far[2])
        far = farthest_point(qz, ids, vecs)
    finally:
        _cache.release(qz)
    return ids, far[1] if far else 0, n


def gram(qz: DataFrame, shift: int) -> np.ndarray:
    """The int64 Gram matrix of the shifted vectors, sum of (x - shift)ᵀ
    (x - shift): each Arrow batch emits its dim² cells, one ``groupBy``
    sums them."""

    def emit(ids, x):
        xc = x - shift
        i, j = np.indices((xc.shape[1],) * 2, dtype=np.int32)
        return dict(i=i.ravel(), j=j.ravel(), g=(xc.T @ xc).ravel())

    cells = _map_vectors(qz, emit, "i int, j int, g long")
    i, j, g = np.array(cells.groupBy("i", "j").agg(F.sum("g")).collect()).T
    out = np.zeros((i.max() + 1,) * 2, dtype=np.int64)
    out[i, j] = g
    return out
