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
"""

from __future__ import annotations

import hashlib
import struct

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


def kmeans_lloyd(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    rounds: int = 1,
) -> DataFrame:
    """``rounds`` synchronous Lloyd iterations in EXACT integer
    arithmetic (see ``quantize_for_kmeans``); the first k vectors seed
    the centroids; assignment ties break to the lowest centroid id via
    min-struct aggregation; centroid updates are integer means. Returns
    (cluster_id, n_members, centroid) after the final round — bit-
    identical across engines and partitionings, so a DuckDB oracle can
    replay every round.

    Plan: per round, a broadcast cross join against k centroid rows, one
    min-struct aggregate per vector, and one (cluster, dim) aggregate —
    two shuffles per round at any scale. Clusters that lose all members
    drop out identically in both engines (no refill rule)."""
    if rounds < 1:
        raise ValueError(f"kmeans_lloyd needs rounds >= 1, got {rounds}")
    q = quantize_for_kmeans(df, id_col, vec_col)
    # seed = the k vectors with ids 0..k-1 (a deterministic choice the
    # DuckDB oracle can replay with WHERE vec_id < k). This assumes dense
    # integer ids — verify it instead of silently clustering with fewer
    # than k seeds on sparse/non-integer id spaces.
    cents = q.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    n_seeds = cents.count()
    if n_seeds != k:
        raise ValueError(
            f"kmeans_lloyd seeds centroids from ids 0..{k - 1} but found "
            f"{n_seeds} rows with {id_col} < {k}; ids must be dense "
            f"integers starting at 0 (re-key with row_number() first)"
        )
    expl = q.select(
        "vec_id", F.posexplode("qv").alias("pos0", "val")
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "val")

    assign = None
    for _ in range(rounds):
        dists = q.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "cid",
            F.expr(
                "aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)), 0, (acc, x) -> acc + x)"
            ).alias("dist"),
        )
        assign = (
            dists.groupBy("vec_id")
            .agg(F.min(F.struct("dist", "cid")).alias("m"))
            .select("vec_id", F.col("m.cid").alias("cid"))
        )
        upd = (
            assign.join(expl, "vec_id")
            .groupBy("cid", "pos")
            .agg(
                F.expr("CAST(SUM(val) div COUNT(*) AS INT)").alias("cval"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        cents = upd.groupBy("cid").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"],
            ).alias("cv")
        )
    # n_members = the (cid,pos) count at any one pos — read it off the
    # final round's update aggregate instead of re-aggregating the final
    # assignment (which re-ran the whole last round: ReuseExchange can
    # dedupe identical exchanges but the old sizes subtree diverged from
    # upd's at the aggregate, so the assignment join was computed twice)
    sizes = upd.filter(F.col("pos") == 1).select(
        "cid", F.col("n").alias("n_members")
    )
    return (
        cents.join(sizes, "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            F.col("cv").alias("centroid"),
        )
        .orderBy("cluster_id")
    )
