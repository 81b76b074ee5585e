"""graph queries (mechanically split from the original queries.py monolith;
bodies verbatim, shared registry in _core)."""

from ._core import *  # noqa: F401,F403



def _so_pairs(so, count_alias: str = "c"):
    """Supplier co-order pairs (u, v, count) with u < v, from the distinct
    (s, o) incidence frame. Generated IN-ROW: group each order's suppliers
    into a sorted array and emit the array's ordered pairs via two chained
    posexplodes — one exchange of the incidence set plus the pair
    aggregate, no join. The previous so⋈so self-join on the order key
    shuffled/sorted the incidence set on both sides before the same
    aggregate; pairs and counts are identical pair for pair (the sorted
    array reproduces a.s < b.s exactly, one row per shared order). The
    in-row expansion is bounded by per-order supplier count (order size),
    the same bound the join's per-key fan-out had — skew identical,
    exchanges fewer (guide §2.4)."""
    g = so.groupBy("o").agg(F.sort_array(F.collect_list("s")).alias("ss"))
    d1 = g.select("ss", F.posexplode("ss").alias("i", "u"))
    return (
        d1.select("u", "i", F.posexplode("ss").alias("j", "v"))
        .filter(F.col("j") > F.col("i"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias(count_alias))
    )


@register(
    "graph_weighted_path_counts",
    oracle="""
    WITH edges AS (
      SELECT cn.n_nationkey AS src, sn.n_nationkey AS dst, COUNT(*) AS w
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation cn ON cn.n_nationkey = c_nationkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
      GROUP BY 1, 2
    ),
    v0 AS (SELECT 0 AS node, CAST(1 AS BIGINT) AS paths),
    v1 AS (SELECT dst AS node, SUM(paths * w) AS paths
           FROM v0 JOIN edges ON v0.node = edges.src GROUP BY dst),
    v2 AS (SELECT dst AS node, SUM(paths * w) AS paths
           FROM v1 JOIN edges ON v1.node = edges.src GROUP BY dst),
    v3 AS (SELECT dst AS node, SUM(paths * w) AS paths
           FROM v2 JOIN edges ON v2.node = edges.src GROUP BY dst)
    SELECT node, paths FROM v3 ORDER BY paths DESC, node
    """,
)
def graph_weighted_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph computation: trade-weighted path counts of length 3
    from NATION_0 over the customer-nation → supplier-nation graph (the
    join-aggregate iteration underlying PageRank / Katz centrality,
    kept in exact BIGINT so the result is order-independent). The edge
    list is built once (the only fact-scale work); each iteration joins
    the 25-row frontier vector against it — at real graph scale the
    frontier broadcasts and each step is one partial-aggregated shuffle
    of the edge partitions, state never returns to the driver."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    edges = (
        li.select("l_orderkey", "l_suppkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").cast("long").alias("src"),
            F.col("s_nationkey").cast("long").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    v = spark.createDataFrame([(0, 1)], "node long, paths long")
    for _ in range(3):
        v = (
            F.broadcast(v)
            .join(edges, F.col("node") == F.col("src"))
            .groupBy(F.col("dst").alias("next_node"))
            .agg(F.sum(F.col("paths") * F.col("w")).alias("paths"))
            .select(F.col("next_node").alias("node"), "paths")
        )
    return v.orderBy(F.col("paths").desc(), "node")


@register("pagerank_customer_supplier", oracle=_pagerank_oracle())
def pagerank_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer-supplier purchase graph (undirected
    bipartite; suppliers offset to 1000000+suppkey), 5 synchronous rounds
    in exact scaled-integer arithmetic — every iteration value-checked
    against a DuckDB unrolled-CTE replica. The iterative-join-aggregate
    shape is the Pregel pattern ported to DataFrames."""
    from ..operators import graph as graph_mod

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(1000000) + F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    return graph_mod.pagerank(edges, iterations=5).orderBy("node")


# ---------------------------------------------------------------------------
# Round 2 batch: graph analytics, embedding classifiers, language modeling,
# and training-pipeline chunking ops — all value-oracled.
# ---------------------------------------------------------------------------


@register(
    "graph_triangle_count",
    oracle="""
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
    tri AS (
      SELECT COUNT(*) AS n FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT n FROM tri) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count on the TOP-3-SPARSIFIED supplier co-order
    graph: each supplier keeps edges to its 3 strongest co-order partners
    (by shared-order count, ties by id), edges survive if either endpoint
    selected them. Sparsification first is the 100 TB posture — raw
    co-occurrence graphs densify toward complete as data grows (this one
    is already complete at sf0.01), making raw triangle counting O(n³);
    bounding the out-degree bounds wedges at 6·|V| regardless of scale.
    The count itself is the standard oriented edge-iterator: two
    self-joins on the u<v edge list, each triangle counted once."""
    li = _t(spark, sf_dir, "lineitem")
    so = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_orderkey").alias("o")
    ).distinct()
    w = _so_pairs(so)
    # e is vertex-sized (≤ 3|V| edges) and feeds four consumers (three
    # triangle-join sides + the edge count) — materialize once instead of
    # re-running the corpus-scale co-order join per consumer
    e = op_cache.track(graph_mod.top_k_cooccurrence_edges(w, k=3).cache())
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(tri)


@register(
    "graph_jaccard_link_prediction",
    oracle="""
    WITH so AS (SELECT DISTINCT l_suppkey AS s, l_orderkey AS o FROM lineitem),
    deg AS (SELECT s, COUNT(*) AS n FROM so GROUP BY s),
    common AS (
      SELECT a.s AS u, b.s AS v, COUNT(*) AS c
      FROM so a JOIN so b ON a.o = b.o AND a.s < b.s
      GROUP BY a.s, b.s)
    SELECT u, v, c AS n_common,
           ROUND(CAST(c AS DOUBLE) / (du.n + dv.n - c), 6) AS jaccard
    FROM common JOIN deg du ON du.s = u JOIN deg dv ON dv.s = v
    ORDER BY jaccard DESC, u, v
    LIMIT 20
    """,
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction on the supplier-order bipartite
    graph: score supplier pairs by |orders(u) ∩ orders(v)| / |union|. The
    intersection comes from one co-order self-join aggregate (no set
    materialization) and degrees broadcast — the inverted-index shape that
    scales with co-occurrence count, not pair count."""
    li = _t(spark, sf_dir, "lineitem")
    so = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_orderkey").alias("o")
    ).distinct()
    deg = so.groupBy("s").agg(F.count(F.lit(1)).alias("n"))
    common = _so_pairs(so)
    du = F.broadcast(deg.select(F.col("s").alias("u"), F.col("n").alias("nu")))
    dv = F.broadcast(deg.select(F.col("s").alias("v"), F.col("n").alias("nv")))
    return (
        common.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            F.col("c").alias("n_common"),
            F.round(
                F.col("c").cast("double") / (F.col("nu") + F.col("nv") - F.col("c")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "u", "v")
        .limit(20)
    )


@register("graph_label_propagation_communities", oracle=_lpa_oracle(rounds=2))
def graph_label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation on the
    top-3-sparsified supplier co-order graph, seeded with nation labels —
    2 rounds, ties to the lowest label, isolated nodes keep their seed.
    The fourth iterative-algorithm family in the engine (after PageRank,
    connected components, and k-means), all value-checked by unrolled SQL
    replicas. Per round: one neighbor-count shuffle + one window over the
    (node,label) count table."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    so = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_orderkey").alias("o")
    ).distinct()
    pairs = _so_pairs(so)
    edges = op_cache.track(
        graph_mod.top_k_cooccurrence_edges(pairs, k=3).cache()
    )
    labels = sup.select(
        F.col("s_suppkey").alias("node"),
        F.col("s_nationkey").cast("bigint").alias("label"),
    )
    final = graph_mod.label_propagation(edges, labels, rounds=2)
    return (
        final.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(F.col("label").alias("community"), "n_members")
        .orderBy(F.desc("n_members"), "community")
    )


@register(
    "graph_bfs_hop_histogram",
    oracle=f"""
    WITH RECURSIVE
    {_SPARSE_EDGES_CTE},
    start AS (SELECT MIN(u) AS s0 FROM e),
    walk(node, hops) AS (
      SELECT s0, 0 FROM start
      UNION
      SELECT e.dst, w.hops + 1
      FROM walk w JOIN esym e ON e.src = w.node
      WHERE w.hops < 4),
    dist AS (SELECT node, MIN(hops) AS hops FROM walk GROUP BY node)
    SELECT CAST(hops AS INT) AS hops, COUNT(*) AS n_nodes
    FROM dist GROUP BY hops ORDER BY hops
    """,
)
def graph_bfs_hop_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS (4 hops) from the lowest-id vertex of the sparsified
    supplier graph — hop-distance histogram via frontier-expansion joins,
    one shuffle per hop with per-round lineage checkpoints. The oracle's
    recursive CTE takes the MIN hop per node, matching the frontier
    semantics exactly."""
    li = _t(spark, sf_dir, "lineitem")
    so = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_orderkey").alias("o")
    ).distinct()
    pairs = _so_pairs(so)
    edges = op_cache.track(graph_mod.top_k_cooccurrence_edges(pairs, k=3).cache())
    source = edges.agg(F.min("u")).first()[0]
    dist = graph_mod.bfs_hops(edges, source=int(source), max_hops=4)
    return (
        dist.groupBy("hops")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.col("hops").cast("int").alias("hops"), "n_nodes")
        .orderBy("hops")
    )


@register(
    "graph_degree_distribution",
    oracle=f"""
    WITH {_SPARSE_EDGES_CTE},
    deg AS (SELECT src AS node, COUNT(*) AS degree FROM esym GROUP BY src)
    SELECT CAST(degree AS INT) AS degree, COUNT(*) AS n_nodes
    FROM deg GROUP BY degree ORDER BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the sparsified co-order graph — the shape
    readout that validates the top-k sparsifier actually bounded degrees
    (max 2k by construction). Two tiny aggregates over the edge list."""
    li = _t(spark, sf_dir, "lineitem")
    so = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_orderkey").alias("o")
    ).distinct()
    pairs = _so_pairs(so)
    edges = graph_mod.top_k_cooccurrence_edges(pairs, k=3)
    sym = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.col("degree").cast("int").alias("degree"), "n_nodes")
        .orderBy("degree")
    )


@register("graph_kcore_decomposition", oracle=_kcore_oracle(3, 4))
def graph_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative 3-core peeling on the sparsified co-order graph: each
    round drops vertices whose induced degree fell below k, re-inducing
    the edge set on the survivors — 4 synchronous rounds, with the
    (round, nodes, edges) trajectory as the output so the oracle replays
    every round, not just the fixpoint. Per round: one degree aggregate
    + one (vertex-sized, cached) semi-join back onto the edge list — the
    Pregel-lite shape; at 100 TB the edge list is the only corpus-scale
    frame and it is scanned, never shuffled wider than its key."""
    li = _t(spark, sf_dir, "lineitem")
    so = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_orderkey").alias("o")
    ).distinct()
    w = _so_pairs(so)
    # Iterative-algorithm hygiene (same pattern as connected_components):
    # the edge list is localCheckpoint'ed ONCE into a LogicalRDD leaf and
    # every round's survivor set is checkpoint'ed too — checkpoints
    # truncate LINEAGE, not just execution (a cache alone leaves every
    # prior round inside the logical plan, whose tree — and explain
    # string — grows exponentially with rounds, enough to OOM a
    # default-heap driver; skipping the per-round cut instead triggers
    # exponential RECOMPUTE because deg feeds two consumers). Per-round
    # stats come from ONE aggregate over the degree table (|V| = row
    # count, |E| = sum(deg)/2 by the handshake lemma): a round costs two
    # jobs — stats and the survivor checkpoint. 8 shuffle partitions are
    # plenty for the vertex-sized round state.
    from ..streaming.stateful import _scoped_shuffle_partitions

    k, rounds = 3, 4
    stats: list[tuple[int, int, int]] = []
    with _scoped_shuffle_partitions(spark, 8):
        e = graph_mod.top_k_cooccurrence_edges(w, k=3).localCheckpoint(
            eager=True
        )
        cur_edges = e
        for r in range(rounds + 1):
            # ONE degree aggregate per round: deg previously fed two
            # consumers (the stats row and the survivor filter) and was
            # recomputed for each — checkpointing deg halves the
            # per-round shuffled work; the stats aggregate and the
            # survivor filter then read the materialized vertex-sized
            # frame (the filter is cheap enough to recompute for both
            # semi-join sides)
            # the (|V|, |E|) stats ride the checkpoint's materialization
            # pass as Observation metrics — one pass over the
            # vertex-sized degree frame both persists it and produces
            # the round's stats row, where the old shape paid a separate
            # aggregate job per round (guide §1.2 step 1)
            from pyspark.sql import Observation

            obs = Observation()
            deg = (
                cur_edges.select(F.col("u").alias("node"))
                .unionAll(cur_edges.select(F.col("v").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("deg"))
                .observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.expr("sum(deg) div 2"), F.lit(0)).alias("m"),
                )
                .localCheckpoint(eager=True)
            )
            row = obs.get
            stats.append((r, int(row["n"]), int(row["m"])))
            if r == rounds:
                break
            cur_nodes = deg.filter(F.col("deg") >= k).select("node")
            a = cur_nodes.withColumnRenamed("node", "u")
            b = cur_nodes.withColumnRenamed("node", "v")
            cur_edges = e.join(a, "u", "left_semi").join(b, "v", "left_semi")
    return spark.createDataFrame(
        [(r, int(n), int(m)) for r, n, m in stats],
        "round int, n_nodes bigint, n_edges bigint",
    ).orderBy("round")


@register(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {_SPARSE_EDGES_SQL.strip()},
    deg AS (SELECT node, COUNT(*) AS d FROM
            (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
            GROUP BY node),
    pairs AS (
      SELECT du.d AS dx, dv.d AS dy
      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
      UNION ALL
      SELECT dv.d AS dx, du.d AS dy
      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
    s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(dx) AS DOUBLE) AS sx,
                 CAST(SUM(dy) AS DOUBLE) AS sy,
                 CAST(SUM(dx * dx) AS DOUBLE) AS sxx,
                 CAST(SUM(dy * dy) AS DOUBLE) AS syy,
                 CAST(SUM(dx * dy) AS DOUBLE) AS sxy
          FROM pairs)
    SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           ROUND((n * sxy - sx * sy) /
                 (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6)
             AS assortativity
    FROM s
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Pearson correlation of endpoint degrees over
    both edge orientations) of the sparsified co-order graph — positive
    means hubs pair with hubs, the one-number structure readout used to
    sanity-check a generated graph against the real one. Integer degree
    moment sums are exact; the correlation formula text is identical in
    both engines so the double math is bit-identical."""
    li = _t(spark, sf_dir, "lineitem")
    so = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_orderkey").alias("o")
    ).distinct()
    w = _so_pairs(so)
    e = op_cache.track(graph_mod.top_k_cooccurrence_edges(w, k=3).cache())
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ed = e.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    # Both orientations come out of ONE pass over ed via explode instead
    # of a self-union that rebuilds the degree joins twice (guide §1.2).
    # The moment sums are over exact integers, so any evaluation order
    # gives bit-identical sums.
    pairs = ed.select(
        F.explode(
            F.array(
                F.struct(F.col("du").alias("dx"), F.col("dv").alias("dy")),
                F.struct(F.col("dv").alias("dx"), F.col("du").alias("dy")),
            )
        ).alias("p")
    ).select("p.dx", "p.dy")
    s = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("dx").cast("double").alias("sx"),
        F.sum("dy").cast("double").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).cast("double").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("double").alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).cast("double").alias("sxy"),
    )
    ne = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return ne.crossJoin(s).select(
        "n_edges",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Round 3: O(log n) connected components, the composed IVF+PQ search path,
# the full-outer streaming join, seasonal decomposition, SQL-surface breadth
# (UNION BY NAME / VALUES / EXECUTE IMMEDIATE), and training-pipeline batch
# construction (preference pairs, length-grouped batching).
# ---------------------------------------------------------------------------


@register(
    "graph_cc_two_phase",
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
def graph_cc_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating large-star / small-star edge
    rewriting (Kiveris et al., SoCC'14) on the same near-dup graph as
    ``dedup_cluster_components`` — O(log n) rounds instead of
    O(diameter), the variant that survives path-shaped components at
    100 TB. Same output contract and the same recursive-CTE oracle as
    the propagation variant, so the two algorithms cross-check each
    other through the driver gate."""
    from ..streaming.stateful import _scoped_shuffle_partitions

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_mod.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, block_col="lang"
    )
    with _scoped_shuffle_partitions(spark, 32):
        comp = graph_mod.connected_components_two_phase(pairs, "id_a", "id_b")
        comp = comp.localCheckpoint(eager=True)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("size"))
        .select(F.col("component").alias("cluster_id"), "size")
        .orderBy(F.col("size").desc(), "cluster_id")
    )


@register("graph_neighborhood_function_fm", oracle=_fm_oracle())
def graph_neighborhood_function_fm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANF/HyperANF approximate neighborhood function over the sparsified
    supplier co-order graph: Flajolet-Martin reachability sketches
    unioned via one BIT_OR shuffle per hop — the O(hops)-round scalable
    answer to 'how big is the h-neighborhood' that exact all-pairs BFS
    can't give at 100 TB. Every bitmap bit, union, and lowest-zero-bit
    statistic is integer arithmetic the oracle replays hop by hop."""
    li = _t(spark, sf_dir, "lineitem")
    so = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_orderkey").alias("o")
    ).distinct()
    w = _so_pairs(so)
    edges = graph_mod.top_k_cooccurrence_edges(w, k=3)
    return graph_mod.fm_neighborhood_function(
        edges, "u", "v", hops=3, n_hashes=4
    ).orderBy("hop")


@register("graph_sssp_bellman_ford", oracle=_sssp_oracle())
def graph_sssp_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths by synchronous Bellman-Ford
    relaxation (4 rounds) on the sparsified co-order graph — integer
    edge costs (1 + 1000 // shared-orders: stronger ties are cheaper),
    one join + one min-aggregate per round, lineage cut per round. The
    oracle replays each relaxation stage verbatim, so the per-round
    frontier arithmetic is what's verified, not just the final
    distances. Output: the 20 nearest suppliers to the minimum-id
    source."""
    li = _t(spark, sf_dir, "lineitem")
    so = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_orderkey").alias("o")
    ).distinct()
    w = _so_pairs(so)
    e = graph_mod.top_k_cooccurrence_edges(w, k=3)
    ew = e.join(w, ["u", "v"]).select(
        "u", "v", (F.lit(1) + F.expr("1000 div c")).alias("wt")
    )
    und = ew.unionByName(
        ew.select(F.col("v").alias("u"), F.col("u").alias("v"), "wt")
    )
    und = op_cache.track(und.cache())
    src = und.agg(F.min("u").alias("s")).collect()[0]["s"]
    dist = spark.createDataFrame([(int(src), 0)], "node long, dist long")
    for _ in range(4):
        relaxed = (
            und.join(dist, und.u == dist.node)
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("wt")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        dist = dist.localCheckpoint(eager=True)
    wr = Window.orderBy("dist", "node")
    return (
        dist.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 20)
        .select("node", "dist")
        .orderBy("dist", "node")
    )


@register("graph_deterministic_walks", oracle=_det_walks_oracle())
def graph_deterministic_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The node2vec/DeepWalk SAMPLING primitive, made value-checkable:
    one 3-step walk per node where each transition picks neighbor
    md5(start:current:step) mod degree from the id-ordered adjacency
    list — hash-driven pseudo-randomness instead of an RNG, so walks
    are reproducible across engines, partitionings, and reruns (the
    property a training-data pipeline needs anyway). Each step is one
    equi-join of the walk frontier against the adjacency list; endpoint
    visit counts are the walk-bias diagnostic."""
    from ..operators import graph as graph_mod

    li = _t(spark, sf_dir, "lineitem")
    so = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_orderkey").alias("o")
    ).distinct()
    wdf = _so_pairs(so)
    e = graph_mod.top_k_cooccurrence_edges(wdf, k=3)
    und = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    wadj = Window.partitionBy("u").orderBy("v")
    adj = und.select(
        F.col("u").alias("node"),
        F.col("v").alias("nbr"),
        (F.row_number().over(wadj) - 1).alias("idx"),
    )
    adj = op_cache.track(adj.cache())
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    walks = deg.select(F.col("node").alias("start"), F.col("node").alias("cur"))
    for s in (1, 2, 3):
        pick = F.expr(
            "CAST(conv(substr(md5(concat(cast(start as string), ':', "
            f"cast(cur as string), ':{s}')), 1, 15), 16, 10) AS BIGINT)"
        )
        walks = (
            walks.join(deg, walks.cur == deg.node)
            .withColumn("idx", pick % F.col("deg"))
            .join(
                adj.select(
                    F.col("node").alias("anode"),
                    F.col("nbr"),
                    F.col("idx").alias("aidx"),
                ),
                (F.col("anode") == F.col("cur"))
                & (F.col("aidx") == F.col("idx")),
            )
            .select("start", F.col("nbr").alias("cur"))
        )
    return (
        walks.groupBy(F.col("cur").alias("end_node"))
        .agg(F.count(F.lit(1)).alias("n_walks"))
        .orderBy(F.desc("n_walks"), "end_node")
        .limit(20)
    )


@register(
    "graph_modularity_nation_partition",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS cu, l.l_suppkey AS su
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    cn AS (SELECT c_custkey, c_nationkey FROM customer),
    sn AS (SELECT s_suppkey, s_nationkey FROM supplier),
    e AS (
      SELECT e0.cu AS u, 1000000 + e0.su AS v,
             cn.c_nationkey AS comm_u, sn.s_nationkey AS comm_v
      FROM e0 JOIN cn ON cn.c_custkey = e0.cu
              JOIN sn ON sn.s_suppkey = e0.su),
    m AS (SELECT COUNT(*) AS m FROM e),
    -- within-community edge counts
    within AS (
      SELECT comm_u AS comm, COUNT(*) AS e_c FROM e
      WHERE comm_u = comm_v GROUP BY comm_u),
    -- community degree sums over the undirected bipartite edges
    degs AS (
      SELECT comm, CAST(SUM(d) AS BIGINT) AS d_c FROM (
        SELECT comm_u AS comm, 1 AS d FROM e
        UNION ALL SELECT comm_v, 1 FROM e) t
      GROUP BY comm),
    terms AS (
      SELECT d.comm,
             4 * (SELECT m FROM m) * COALESCE(w.e_c, 0) - d.d_c * d.d_c
               AS q_term
      FROM degs d LEFT JOIN within w ON w.comm = d.comm)
    SELECT (SELECT m FROM m) AS n_edges,
           CAST(SUM(q_term) AS BIGINT) AS q_scaled,
           ROUND(CAST(SUM(q_term) AS DOUBLE) /
                 (4.0 * (SELECT m FROM m) * (SELECT m FROM m)), 6)
             AS modularity
    FROM terms
    """,
)
def graph_modularity_nation_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of the nation partition over the customer-
    supplier trade graph — does trade cluster along national lines? —
    computed entirely in integers: Q·4m² = Σ_c (4m·e_c − d_c²) over
    within-community edge counts and community degree sums, one double
    division at the end. The community-quality metric that scores any
    partition (LPA output, METIS cuts, business hierarchies) without
    materializing anything quadratic."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    e0 = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cu"), F.col("l_suppkey").alias("su"))
        .distinct()
    )
    e = (
        e0.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            e0.cu == F.col("c_custkey"),
        )
        .join(
            F.broadcast(sup.select("s_suppkey", "s_nationkey")),
            e0.su == F.col("s_suppkey"),
        )
        .select(
            F.col("c_nationkey").alias("comm_u"),
            F.col("s_nationkey").alias("comm_v"),
        )
    )
    e = op_cache.track(e.cache())
    m = e.count()
    within = (
        e.filter(F.col("comm_u") == F.col("comm_v"))
        .groupBy(F.col("comm_u").alias("comm"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    degs = (
        e.select(F.col("comm_u").alias("comm"))
        .unionAll(e.select(F.col("comm_v").alias("comm")))
        .groupBy("comm")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_c"))
    )
    terms = degs.join(F.broadcast(within), "comm", "left").select(
        (
            F.lit(4 * m) * F.coalesce(F.col("e_c"), F.lit(0))
            - F.col("d_c") * F.col("d_c")
        ).alias("q_term")
    )
    return terms.agg(
        F.lit(m).cast("bigint").alias("n_edges"),
        F.sum("q_term").cast("bigint").alias("q_scaled"),
        F.round(
            F.sum("q_term").cast("double") / (F.lit(4.0) * m * m), 6
        ).alias("modularity"),
    )


@register("graph_ktruss_edges", oracle=_ktruss_oracle())
def graph_ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss decomposition — the EDGE-cohesion refinement of k-core:
    iteratively delete every edge supported by no triangle until stable
    (3 peeling rounds, fixpoint on this graph). Each round reuses the
    oriented triangle-enumeration joins from the exact triangle count,
    then a support aggregate per edge; the surviving subgraph is where
    community structure actually lives. The oracle replays every
    peeling round."""
    li = _t(spark, sf_dir, "lineitem")
    so = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_orderkey").alias("o")
    ).distinct()
    wdf = _so_pairs(so)
    e = graph_mod.top_k_cooccurrence_edges(wdf, k=3)
    e = e.localCheckpoint(eager=True)
    n_initial = e.count()
    for _ in range(3):
        e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
        tris = (
            e1.join(e2, F.col("e2.u") == F.col("e1.v"))
            .join(
                e3,
                (F.col("e3.u") == F.col("e1.u"))
                & (F.col("e3.v") == F.col("e2.v")),
            )
            .select(
                F.col("e1.u").alias("a"),
                F.col("e1.v").alias("b"),
                F.col("e2.v").alias("c"),
            )
        )
        sup = (
            e.alias("e")
            .join(
                tris.alias("t"),
                (
                    (F.col("t.a") == F.col("e.u"))
                    & (F.col("t.b") == F.col("e.v"))
                )
                | (
                    (F.col("t.b") == F.col("e.u"))
                    & (F.col("t.c") == F.col("e.v"))
                )
                | (
                    (F.col("t.a") == F.col("e.u"))
                    & (F.col("t.c") == F.col("e.v"))
                ),
                "left",
            )
            .groupBy(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
            .agg(F.count(F.col("t.a")).alias("s"))
        )
        e = sup.filter(F.col("s") >= 1).select("u", "v")
        e = e.localCheckpoint(eager=True)
    nodes = (
        e.select("u")
        .unionAll(e.select(F.col("v").alias("u")))
        .agg(F.countDistinct("u").alias("n_nodes_3truss"))
    )
    counts = e.agg(F.count(F.lit(1)).alias("n_edges_3truss"))
    return (
        counts.crossJoin(F.broadcast(nodes))
        .select(
            F.lit(n_initial).cast("bigint").alias("n_edges_initial"),
            F.col("n_edges_3truss").cast("bigint"),
            F.col("n_nodes_3truss").cast("bigint"),
        )
    )


@register("graph_densest_subgraph_peel", oracle=_densest_oracle())
def graph_densest_subgraph_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densest-subgraph by parallel peeling (Bahmani et al., the
    MapReduce (2+eps)-approximation): each round removes every node
    whose degree is below (1+eps) times the current average — an exact
    integer comparison (10·n·d >= 11·Σd), no float thresholds — and
    O(log n) rounds suffice where the sequential Charikar peel needs n.
    Per-round node/edge counts and density trace the densification; the
    oracle replays every round."""
    li = _t(spark, sf_dir, "lineitem")
    so = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_orderkey").alias("o")
    ).distinct()
    wdf = _so_pairs(so)
    e = graph_mod.top_k_cooccurrence_edges(wdf, k=3)
    e = e.localCheckpoint(eager=True)
    rows = []
    for r in (1, 2, 3):
        n_edges = e.count()
        deg = (
            e.select(F.col("u").alias("s"))
            .unionAll(e.select(F.col("v").alias("s")))
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        deg = deg.localCheckpoint(eager=True)
        n_nodes = deg.count()
        rows.append((r, n_nodes, n_edges))
        sum_d = 2 * n_edges
        keep = deg.filter(
            10 * max(n_nodes, 1) * F.col("d") >= 11 * sum_d
        ).select("s")
        e = (
            e.join(keep.withColumnRenamed("s", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("s", "v"), "v", "left_semi")
            .select("u", "v")
        )
        e = e.localCheckpoint(eager=True)
    # density rounds in Spark SQL (HALF_UP like DuckDB), not Python's
    # banker's round
    return (
        spark.createDataFrame(
            rows, "round int, n_nodes bigint, n_edges bigint"
        )
        .select(
            "round",
            "n_nodes",
            "n_edges",
            F.round(
                F.col("n_edges").cast("double")
                / F.greatest(F.col("n_nodes"), F.lit(1)),
                6,
            ).alias("density"),
        )
        .orderBy("round")
    )


@register(
    "graph_local_clustering_topk",
    oracle="""
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
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    tcount AS (
      SELECT s, COUNT(*) AS t FROM (
        SELECT a AS s FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) x
      GROUP BY s),
    deg AS (
      SELECT s, COUNT(*) AS d FROM (
        SELECT u AS s FROM e UNION ALL SELECT v FROM e) x
      GROUP BY s)
    SELECT d.s AS node, CAST(d.d AS BIGINT) AS degree,
           CAST(COALESCE(t.t, 0) AS BIGINT) AS n_triangles,
           ROUND(CAST(2 * COALESCE(t.t, 0) AS DOUBLE) /
                 (d.d * (d.d - 1)), 6) AS local_cc
    FROM deg d LEFT JOIN tcount t ON t.s = d.s
    WHERE d.d >= 2
    ORDER BY local_cc DESC, node
    LIMIT 20
    """,
)
def graph_local_clustering_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node LOCAL clustering coefficient (2·triangles(v) /
    deg(v)·(deg(v)−1)) on the sparsified co-order graph — the node-level
    cohesion score behind small-world and role analysis, where the
    global triangle count only gives one number. Triangle enumeration
    reuses the oriented join; each triangle credits its three corners
    via one union-aggregate. Top-20 most clustered suppliers."""
    li = _t(spark, sf_dir, "lineitem")
    so = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_orderkey").alias("o")
    ).distinct()
    wdf = _so_pairs(so)
    e = op_cache.track(graph_mod.top_k_cooccurrence_edges(wdf, k=3).cache())
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    tcount = (
        tri.select(F.col("a").alias("s"))
        .unionAll(tri.select(F.col("b").alias("s")))
        .unionAll(tri.select(F.col("c").alias("s")))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    deg = (
        e.select(F.col("u").alias("s"))
        .unionAll(e.select(F.col("v").alias("s")))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    scored = (
        deg.join(tcount, "s", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("s").alias("node"),
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
            F.round(
                (2 * F.coalesce(F.col("t"), F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("local_cc"),
        )
    )
    wtop = Window.orderBy(F.desc("local_cc"), "node")
    return (
        scored.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= 20)
        .drop("rn")
        .orderBy(F.desc("local_cc"), "node")
    )


@register(
    "graph_hits_hubs_authorities",
    oracle="""
    WITH edges AS (
      SELECT o.o_custkey AS c, l.l_suppkey AS s, COUNT(*) AS w
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey, l.l_suppkey),
    a1 AS (
      SELECT s, SUM(w) AS a FROM edges GROUP BY s),
    h1 AS (
      SELECT e.c, SUM(e.w * a1.a) AS h
      FROM edges e JOIN a1 ON a1.s = e.s GROUP BY e.c),
    a2 AS (
      SELECT e.s, SUM(e.w * h1.h) AS a
      FROM edges e JOIN h1 ON h1.c = e.c GROUP BY e.s),
    h2 AS (
      SELECT e.c, SUM(e.w * a2.a) AS h
      FROM edges e JOIN a2 ON a2.s = e.s GROUP BY e.c),
    top_h AS (
      SELECT 'hub' AS side, c AS node_id, h AS score,
             ROW_NUMBER() OVER (ORDER BY h DESC, c) AS rk
      FROM h2),
    top_a AS (
      SELECT 'authority' AS side, s AS node_id, a AS score,
             ROW_NUMBER() OVER (ORDER BY a DESC, s) AS rk
      FROM a2)
    SELECT side, CAST(node_id AS BIGINT) AS node_id,
           CAST(score AS BIGINT) AS score, CAST(rk AS INT) AS rank
    FROM (SELECT * FROM top_h WHERE rk <= 10
          UNION ALL
          SELECT * FROM top_a WHERE rk <= 10)
    ORDER BY side, rank
    """,
)
def graph_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities on the weighted customer→supplier
    bipartite graph (edge weight = co-order count): two unnormalized
    mutual-reinforcement rounds in EXACT integer arithmetic (a = Eᵀh,
    h = Ea), reporting the top-10 of each side by the final scaled
    integer scores — ranking is invariant to the usual L2 normalization,
    so skipping it keeps every value oracle-checkable. Each half-round
    is one join + one narrow-key aggregate; the edge list builds once
    and at 100× you'd pre-partition it on the join key, exactly like
    the pagerank operator notes."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = op_cache.track(edges.cache())
    a1 = edges.groupBy("s").agg(F.sum("w").alias("a"))
    h1 = (
        edges.join(a1, "s")
        .groupBy("c")
        .agg(F.sum(F.col("w") * F.col("a")).alias("h"))
    )
    # a2 feeds TWO consumers (h2 and the authority top-10); materialize
    # it (node-scale) so the a1→h1→a2 join-aggregate chain over the
    # cached edge list runs once (guide §1.2).
    a2 = _mat(
        edges.join(h1, "c")
        .groupBy("s")
        .agg(F.sum(F.col("w") * F.col("h")).alias("a"))
    )
    h2 = (
        edges.join(a2, "s")
        .groupBy("c")
        .agg(F.sum(F.col("w") * F.col("a")).alias("h"))
    )
    top_h = h2.select(
        F.lit("hub").alias("side"),
        F.col("c").alias("node_id"),
        F.col("h").alias("score"),
        F.row_number()
        .over(Window.orderBy(F.desc("h"), "c"))
        .alias("rank"),
    ).filter(F.col("rank") <= 10)
    top_a = a2.select(
        F.lit("authority").alias("side"),
        F.col("s").alias("node_id"),
        F.col("a").alias("score"),
        F.row_number()
        .over(Window.orderBy(F.desc("a"), "s"))
        .alias("rank"),
    ).filter(F.col("rank") <= 10)
    return (
        top_h.unionAll(top_a)
        .select(
            "side",
            F.col("node_id").cast("bigint").alias("node_id"),
            F.col("score").cast("bigint").alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("side", "rank")
    )


@register(
    "graph_attack_robustness",
    oracle="""
    WITH co AS (
      SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
    edges AS (
      SELECT DISTINCT a.s AS u, b.s AS v
      FROM co a JOIN co b ON a.o = b.o AND a.s < b.s),
    und AS MATERIALIZED (
      SELECT u, v FROM edges UNION SELECT v, u FROM edges),
    deg AS (
      SELECT u AS node, COUNT(*) AS degree FROM und GROUP BY u),
    hubs AS MATERIALIZED (
      SELECT node FROM (
        SELECT node, ROW_NUMBER() OVER (ORDER BY degree DESC, node) AS rk
        FROM deg) WHERE rk <= 10),
    comp_before AS MATERIALIZED (
      WITH RECURSIVE walk(node, lbl) AS (
        SELECT u, LEAST(u, MIN(v)) FROM und GROUP BY u
        UNION
        SELECT w.node, LEAST(w.lbl, u2.lbl)
        FROM walk w JOIN und e ON e.u = w.node JOIN walk u2 ON u2.node = e.v)
      SELECT node, MIN(lbl) AS c FROM walk GROUP BY node),
    giant_before AS (
      SELECT MAX(sz) AS g FROM (
        SELECT c, COUNT(*) AS sz FROM comp_before GROUP BY c)),
    und2 AS MATERIALIZED (
      SELECT u, v FROM und
      WHERE u NOT IN (SELECT node FROM hubs)
        AND v NOT IN (SELECT node FROM hubs)),
    comp_after AS MATERIALIZED (
      WITH RECURSIVE walk2(node, lbl) AS (
        SELECT u, LEAST(u, MIN(v)) FROM und2 GROUP BY u
        UNION
        SELECT w.node, LEAST(w.lbl, u2.lbl)
        FROM walk2 w JOIN und2 e ON e.u = w.node
        JOIN walk2 u2 ON u2.node = e.v)
      SELECT node, MIN(lbl) AS c FROM walk2 GROUP BY node),
    giant_after AS (
      SELECT COALESCE(MAX(sz), 0) AS g FROM (
        SELECT c, COUNT(*) AS sz FROM comp_after GROUP BY c)),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    ne AS (SELECT COUNT(*) AS e FROM edges)
    SELECT CAST(nn.n AS BIGINT) AS n_nodes,
           CAST(ne.e AS BIGINT) AS n_edges,
           CAST(gb.g AS BIGINT) AS giant_before,
           CAST(ga.g AS BIGINT) AS giant_after_attack,
           ROUND(CAST(ga.g AS DOUBLE) / CAST(gb.g AS DOUBLE), 6)
             AS robustness_ratio
    FROM nn, ne, giant_before gb, giant_after ga
    """,
)
def graph_attack_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted-attack robustness of the supplier co-order graph: giant
    connected-component size before and after removing the 10
    highest-degree hubs — the scale-free-network stress test (a
    robust supply/dependency network keeps its giant component; a
    hub-dependent one shatters). Components via the same min-label
    propagation operator as the dedup clustering, run twice; degree
    ranking is one aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    co = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    a = co.select(F.col("o").alias("oa"), F.col("s").alias("u"))
    b = co.select(F.col("o").alias("ob"), F.col("s").alias("v"))
    edges = (
        a.join(b, (F.col("oa") == F.col("ob")) & (F.col("u") < F.col("v")))
        .select("u", "v")
        .distinct()
    )
    edges = op_cache.track(edges.cache())
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    und = op_cache.track(und.cache())
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    hubs = (
        deg.select(
            "node",
            F.row_number()
            .over(Window.orderBy(F.desc("degree"), "node"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= 10)
        .select("node")
    )
    hubs = op_cache.track(hubs.cache())
    comp_before = dedup_mod.connected_components(
        edges.select(F.col("u").alias("id_a"), F.col("v").alias("id_b"))
    )
    giant_before = (
        comp_before.groupBy("component")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(F.max("sz").alias("gb"))
    )
    edges2 = (
        edges.join(hubs.withColumnRenamed("node", "u"), "u", "left_anti")
        .join(hubs.withColumnRenamed("node", "v"), "v", "left_anti")
        .select("u", "v")
    )
    comp_after = dedup_mod.connected_components(
        edges2.select(F.col("u").alias("id_a"), F.col("v").alias("id_b"))
    )
    giant_after = (
        comp_after.groupBy("component")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(F.coalesce(F.max("sz"), F.lit(0)).alias("ga"))
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n"))
    ne = edges.agg(F.count(F.lit(1)).alias("e"))
    return (
        nn.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(giant_before))
        .crossJoin(F.broadcast(giant_after))
        .select(
            F.col("n").cast("bigint").alias("n_nodes"),
            F.col("e").cast("bigint").alias("n_edges"),
            F.col("gb").cast("bigint").alias("giant_before"),
            F.col("ga").cast("bigint").alias("giant_after_attack"),
            F.round(
                F.col("ga").cast("double") / F.col("gb").cast("double"), 6
            ).alias("robustness_ratio"),
        )
    )


__all__ = [
    'graph_weighted_path_counts',
    'pagerank_customer_supplier',
    'graph_triangle_count',
    'graph_jaccard_link_prediction',
    'graph_label_propagation_communities',
    'graph_bfs_hop_histogram',
    'graph_degree_distribution',
    'graph_kcore_decomposition',
    'graph_degree_assortativity',
    'graph_cc_two_phase',
    'graph_neighborhood_function_fm',
    'graph_sssp_bellman_ford',
    'graph_deterministic_walks',
    'graph_modularity_nation_partition',
    'graph_ktruss_edges',
    'graph_densest_subgraph_peel',
    'graph_local_clustering_topk',
    'graph_hits_hubs_authorities',
    'graph_attack_robustness',
]
