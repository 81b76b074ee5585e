"""Plan-shape regression tests: the physical plans we rely on for the
100 TB posture — filter pushdown to parquet, broadcast joins for dims,
shuffle-free bucketed joins — must not silently regress."""

import re

import pytest
from pyspark.sql import functions as F

from hbase_to_mongo_export_spark import queries as registry


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def assert_one_kernel_pass(plan: str) -> None:
    """Nothing quadratic and nothing per dimension: no cartesian product,
    nested-loop join or ``Generate`` (explode), and exactly one
    MapInPandas/MapInArrow node, fed by the scan with no Exchange below
    it."""
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin", "Generate"):
        assert node not in plan, plan
    tree = plan.split("\n\n")[0].splitlines()
    kernels = [
        i for i, line in enumerate(tree) if re.search(r"MapIn(Pandas|Arrow) \(", line)
    ]
    assert len(kernels) == 1, plan
    line = tree[kernels[0]]
    depth = len(line) - len(line.lstrip(" :+-"))
    for below in tree[kernels[0] + 1 :]:
        if len(below) - len(below.lstrip(" :+-")) <= depth:
            break
        assert "Exchange" not in below, plan


class TestPushdownAndBroadcast:
    def test_time_filters_pushed_to_scan(self, spark, sf_dir):
        df = registry.queries()["q1_pricing_summary"](spark, sf_dir)
        plan = plan_of(df)
        assert re.search(r"PushedFilters:.*LessThanOrEqual\(l_shipdate", plan), plan

    def test_dim_joins_broadcast(self, spark, sf_dir):
        for q in ["q3_shipping_priority", "q5_local_supplier_volume"]:
            plan = plan_of(registry.queries()[q](spark, sf_dir))
            assert "BroadcastHashJoin" in plan, q
            # no sort-merge join should survive at these dim sizes
            assert "SortMergeJoin" not in plan, q

    def test_envelope_projection_prunes_columns(self, spark, sf_dir):
        df = registry.queries()["events_json_extraction"](spark, sf_dir)
        plan = plan_of(df)
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, plan
        read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert "user_id" not in read_cols  # untouched columns not scanned
        assert {"event_type", "props"} <= read_cols

    def test_q8_snowflake_broadcasts_all_dims(self, spark, sf_dir):
        """Q8's 8-table snowflake: every dimension join broadcasts; at most
        the lineitem-orders fact join may shuffle — one shuffled join max."""
        plan = plan_of(registry.queries()["q8_market_share"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
        assert len(re.findall(r"SortMergeJoin", plan)) <= 1, plan

    def test_q21_single_fact_shuffle(self, spark, sf_dir):
        """Q21 rewrite: the groupBy(l_orderkey) replaces the classic
        EXISTS/NOT-EXISTS double self-join — no more than one shuffled
        join of the fact table, supplier/nation joins broadcast."""
        plan = plan_of(registry.queries()["q21_waiting_suppliers"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
        assert len(re.findall(r"SortMergeJoin", plan)) <= 1, plan

    def test_asof_join_single_shuffle(self, spark, sf_dir):
        df = registry.queries()["asof_join_purchase_before_click"](spark, sf_dir)
        plan = plan_of(df)
        # exactly one Exchange for the window partitioning plus one for
        # the final orderBy; never a join explosion
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan
        n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        assert n_exchanges <= 2, plan


class TestBucketedJoin:
    def test_bucketed_join_has_no_shuffle(self, spark, sf_dir, tmp_path):
        """bucketBy co-located join: both sides bucketed on the key ⇒ the
        join plans with zero Exchange — the 100 TB fact-fact join answer."""
        orders = registry._t(spark, sf_dir, "orders")
        li = registry._t(spark, sf_dir, "lineitem")
        (
            orders.write.mode("overwrite")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", str(tmp_path / "orders_b"))
            .saveAsTable("orders_b")
        )
        (
            li.write.mode("overwrite")
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", str(tmp_path / "lineitem_b"))
            .saveAsTable("lineitem_b")
        )
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = spark.table("lineitem_b").join(
                spark.table("orders_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            ).groupBy("o_orderstatus").count()
            plan = plan_of(j)
            # no Exchange may feed the join (bucket layout co-locates);
            # the aggregate after it may still shuffle
            join_pos = plan.find("SortMergeJoin")
            assert join_pos != -1, plan
            tree = plan.split("\n\n")[0]
            join_line = [l for l in tree.splitlines() if "SortMergeJoin" in l][0]
            depth = len(join_line) - len(join_line.lstrip(" +-:"))
            below = tree[tree.index(join_line):]
            assert "Exchange" not in below, plan
            assert j.count() > 0
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.sql("DROP TABLE IF EXISTS orders_b")
            spark.sql("DROP TABLE IF EXISTS lineitem_b")


class TestPartitionPruning:
    def test_partitioned_write_prunes_on_read(self, spark, sf_dir, tmp_path):
        """Hive-style partitioned layout: a filter on the partition column
        becomes a PartitionFilters entry — non-matching directories are
        never opened, the scan-side contract that matters most at 100 TB."""
        from hbase_to_mongo_export_spark.sources.catalog import load_table

        out = str(tmp_path / "events_by_type")
        load_table(spark, sf_dir, "events").write.partitionBy(
            "event_type"
        ).parquet(out)
        df = spark.read.parquet(out).filter(F.col("event_type") == "click")
        plan = plan_of(df)
        assert re.search(r"PartitionFilters: \[.*event_type.*click", plan), plan
        # the data filter must NOT degrade to a post-scan Filter on all rows
        n_read = df.count()
        n_click = load_table(spark, sf_dir, "events").filter(
            F.col("event_type") == "click"
        ).count()
        assert n_read == n_click


class TestNewBreadthShapes:
    def test_market_basket_broadcasts_part_dim(self, spark, sf_dir):
        """Brand co-occurrence: the part dimension must broadcast into the
        lineitem scan; only the self-join on l_orderkey may shuffle."""
        plan = plan_of(registry.queries()["market_basket_brand_pairs"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan, plan

    def test_quartile_boundaries_broadcast(self, spark, sf_dir):
        """Bucket-join quartiles: the 1-row boundary frame broadcasts; the
        per-customer spend side must NOT globally sort (no NTILE-style
        single-partition Window in the plan)."""
        plan = plan_of(registry.queries()["bucket_join_spend_quartiles"](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
        assert "Window" not in plan, plan

    def test_densify_scans_fact_once_per_branch(self, spark, sf_dir):
        """Calendar densification: the calendar side collapses to a 1-row
        aggregate before explode — the join itself must broadcast, never
        sort-merge two tiny frames."""
        plan = plan_of(registry.queries()["orders_month_densify"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan, plan


class TestAdaptedTpchPlans:
    """Scale pins for the adapted q2/q9/q11/q16/q20: dimensions broadcast,
    the fact table shuffles at most once before the reduced aggregate."""

    def test_q2_broadcasts_dims_single_fact_shuffle(self, spark, sf_dir):
        plan = plan_of(registry.queries()["q2_min_cost_supplier"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
        # the only allowed sort-merge join would be a fact-fact join; here
        # everything joining lineitem broadcasts, so none should appear
        assert "SortMergeJoin" not in plan, plan

    def test_q9_snowflake_one_fact_join(self, spark, sf_dir):
        plan = plan_of(registry.queries()["q9_product_type_profit"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
        # lineitem-orders is the one permitted shuffled join
        assert len(re.findall(r"SortMergeJoin", plan)) <= 1, plan

    def test_q11_threshold_broadcasts(self, spark, sf_dir):
        plan = plan_of(registry.queries()["q11_important_inventory"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan, plan

    def test_q16_anti_join_broadcasts(self, spark, sf_dir):
        plan = plan_of(registry.queries()["q16_supplier_part_count"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert re.search(r"BroadcastHashJoin.*LeftAnti", plan), plan
        assert "SortMergeJoin" not in plan, plan

    def test_q20_window_over_reduced_aggregate(self, spark, sf_dir):
        df = registry.queries()["q20_excess_shippers"](spark, sf_dir)
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan, plan
        # ship-date range must push to the parquet scan
        assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_shipdate", plan), plan

    def test_chunk_dedup_narrow_until_agg(self, spark, sf_dir):
        """chunk_dedup reads only text+doc_id (column pruning) and has no
        join at all — one hash-aggregate shuffle."""
        df = registry.queries()["chunk_dedup_20word"](spark, sf_dir)
        plan = plan_of(df)
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, plan
        read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert read_cols <= {"doc_id", "text"}, read_cols
        assert "Join" not in plan


class TestRuntimeOptimizations:
    """Runtime re-planning the 100 TB posture leans on: AQE skew-join
    splitting and runtime bloom-filter pruning. Thresholds are lowered so
    the behaviors trigger at test scale — production uses the defaults."""

    def _with_confs(self, spark, confs):
        saved = {}
        for k, v in confs.items():
            try:
                saved[k] = spark.conf.get(k)
            except Exception:
                saved[k] = None
            spark.conf.set(k, v)
        return saved

    def _restore(self, spark, saved):
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    def test_aqe_splits_skewed_join(self, spark):
        """One hot key dominating the left side: AQE's skew-join rule must
        split the oversized partition (skew=true in the final plan)."""
        from pyspark.sql import functions as F

        confs = {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.shuffle.partitions": "8",
        }
        saved = self._with_confs(spark, confs)
        try:
            left = spark.range(200_000).select(
                F.when(F.col("id") % 10 == 0, F.lit(7))
                .otherwise(F.col("id")).alias("k"),
                F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
            )
            right = spark.range(50_000).select(F.col("id").alias("k"))
            j = left.join(right, "k").groupBy().count()
            j.collect()
            final_plan = j._jdf.queryExecution().executedPlan().toString()
            assert "skew=true" in final_plan, final_plan[:4000]
        finally:
            self._restore(spark, saved)

    def test_runtime_bloom_filter_prunes_fact_scan(self, spark, sf_dir):
        """Selective dim filter + SMJ fact join: the runtime row-level
        filter rule should inject a bloom filter on the fact side."""
        from pyspark.sql import functions as F

        confs = {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        saved = self._with_confs(spark, confs)
        try:
            li = registry._t(spark, sf_dir, "lineitem")
            orders = registry._t(spark, sf_dir, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            )
            j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            plan = j._jdf.queryExecution().optimizedPlan().toString()
            assert "might_contain" in plan and "bloom_filter_agg" in plan, (
                plan[:4000]
            )
        finally:
            self._restore(spark, saved)


class TestNewSimilarityPlans:
    def test_tfidf_broadcasts_count_tables(self, spark, sf_dir):
        """The df/N count tables broadcast into the weight projection; the
        only sort-merge joins allowed are the inverted-index self-join and
        the norm joins (fact-fact)."""
        plan = plan_of(registry.queries()["tfidf_cosine_pairs"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan

    def test_prefix_filter_no_cartesian_and_partial_agg(self, spark, sf_dir):
        plan = plan_of(
            registry.queries()["dedup_jaccard_prefix_filter"](spark, sf_dir)
        )
        assert "CartesianProduct" not in plan
        assert "partial_count" in plan or "HashAggregate" in plan

    def test_interval_overlap_is_hash_join_not_cross(self, spark, sf_dir):
        """The overlap predicate must ride as a residual on a key equi-join
        — a cross product here would be quadratic in events."""
        plan = plan_of(registry.queries()["events_interval_overlap"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_transition_matrix_partial_agg(self, spark, sf_dir):
        plan = plan_of(registry.queries()["event_transition_matrix"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "HashAggregate" in plan


class TestRound2PlanShapes:
    def test_naive_bayes_broadcasts_scalars_not_model(self, spark, sf_dir):
        """The 5-row candidate/prior tables broadcast; the vocabulary-sized
        model join stays a keyed join (broadcasting a vocab-scale table is
        the regression the tfidf review caught)."""
        plan = plan_of(registry.queries()["naive_bayes_lang_score"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan

    def test_pq_assign_one_kernel_pass(self, spark, sf_dir):
        assert_one_kernel_pass(
            plan_of(registry.queries()["embedding_pq_assign"](spark, sf_dir))
        )

    def test_triangle_count_reuses_cached_edges(self, spark, sf_dir):
        """The sparsified edge list is built once and cached; all four
        consumers (three join sides + edge count) must read the
        InMemoryRelation, not re-run the corpus-scale co-order join."""
        from hbase_to_mongo_export_spark.operators import _cache as op_cache

        df = registry.queries()["graph_triangle_count"](spark, sf_dir)
        plan = plan_of(df)
        try:
            assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, plan
            # the expensive co-order self-join appears once, in the cache build
            assert df.collect()[0].n_edges > 0
        finally:
            op_cache.release_all()

    def test_decision_stump_single_count_shuffle(self, spark, sf_dir):
        """The corpus flows through exactly one (dim,value) aggregate; the
        window runs over the count table, and the totals row broadcasts."""
        plan = plan_of(registry.queries()["decision_stump_classifier"](spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_corpus_pipeline_fuses_stages(self, spark, sf_dir):
        """Dedup → quality gate → rollup as one lazy plan: the quality
        projection fuses into the survivor join (no extra exchange between
        the gate and the final aggregate beyond the join/agg shuffles)."""
        plan = plan_of(registry.queries()["training_corpus_pipeline"](spark, sf_dir))
        # count physical exchange operators (formatted explain lists each
        # node twice — tree + detail — so match the numbered detail form),
        # excluding broadcast exchanges (those are the cheap dim sends)
        n_shuffles = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_shuffles <= 6, plan


class TestLayoutQueryPlanShapes:
    """Plan contracts for the round-2 storage-layout query entries."""

    def test_bucketed_colocated_join_query_no_shuffle(self, spark, sf_dir):
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            df = registry.queries()["bucketed_colocated_join"](spark, sf_dir)
            plan = plan_of(df)
            tree = plan.split("\n\n")[0]
            join_line = [l for l in tree.splitlines() if "SortMergeJoin" in l]
            assert join_line, plan
            below = tree[tree.index(join_line[0]):]
            # the final 3-row orderBy may exchange; the join inputs may not —
            # everything from the join down must be exchange-free
            assert "Exchange" not in below, plan
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.sql("DROP TABLE IF EXISTS bkt_orders")
            spark.sql("DROP TABLE IF EXISTS bkt_lineitem")

    def test_partitioned_scan_pruning_query_prunes(self, spark, sf_dir):
        df = registry.queries()["partitioned_scan_pruning"](spark, sf_dir)
        plan = plan_of(df)
        assert re.search(r"PartitionFilters: \[.*o_year", plan), plan
        # pruning is planning-time: the pushed partition predicate names
        # both requested years
        assert "1996" in plan and "1997" in plan, plan

    def test_dpp_query_injects_dynamic_pruning(self, spark, sf_dir):
        df = registry.queries()["dpp_partitioned_fact_join"](spark, sf_dir)
        plan = plan_of(df)
        assert "dynamicpruning" in plan.lower(), plan

    def test_null_aware_anti_is_a_join_not_a_loop(self, spark, sf_dir):
        """The nullable NOT IN must plan as a (null-aware) hash anti join —
        never a per-row nested-loop existence check."""
        df = registry.queries()["join_null_aware_anti"](spark, sf_dir)
        plan = plan_of(df)
        assert "BroadcastHashJoin LeftAnti" in plan, plan
        # the null-aware flag prints as the trailing `true` of the
        # broadcast mode: HashedRelationBroadcastMode(List(...),true)
        assert re.search(
            r"HashedRelationBroadcastMode\(List\([^)]*\),true\)", plan
        ), plan
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan


class TestReusedExchange:
    def test_monthly_share_reuses_the_aggregate_exchange(self, spark, sf_dir):
        """Both consumers of the monthly aggregate (rows + global total)
        must hang off ONE shuffle of the fact table — the second consumer
        plans as ReusedExchange, so orders is scanned exactly once."""
        df = registry.queries()["reused_exchange_monthly_share"](spark, sf_dir)
        # reuse is decided by AQE at runtime: execute, then read the final
        # plan — the global-total branch must reuse the monthly aggregate's
        # shuffle instead of re-scanning orders
        df.collect()
        plan = plan_of(df)
        assert "ReusedExchange" in plan, plan


class TestTopKPlansUseTakeOrdered:
    """Corpus-scale top-k must plan as TakeOrderedAndProject (per-partition
    heap + driver merge), never a single-partition global Window sort."""

    def test_zipf_uses_take_ordered(self, spark, sf_dir):
        df = registry.queries()["zipf_slope_fit"](spark, sf_dir)
        plan = plan_of(df)
        assert "TakeOrderedAndProject" in plan, plan

    def test_weighted_sample_uses_take_ordered(self, spark, sf_dir):
        df = registry.queries()["weighted_sample_aes"](spark, sf_dir)
        plan = plan_of(df)
        assert "TakeOrderedAndProject" in plan, plan
        assert "Window" not in plan, plan

    def test_attribution_no_cartesian(self, spark, sf_dir):
        plan = plan_of(
            registry.queries()["attribution_linear_multi_touch"](spark, sf_dir)
        )
        assert "CartesianProduct" not in plan, plan

    def test_power_iteration_no_cartesian_scale_joins(self, spark, sf_dir):
        """The Gram matrix comes from one Arrow-batch kernel pass (each
        batch's int64 xᵀx, summed by one groupBy) and both power steps
        run on the driver, so the returned plan is the 64-row local tail:
        no corpus-scale join of any kind may appear. The r10 shape
        self-joined the exploded corpus on vec_id (two exchanges + a
        sort-merge join this pin forbids returning)."""
        plan = plan_of(
            registry.queries()["embedding_power_iteration_pc1"](spark, sf_dir)
        )
        assert "CartesianProduct" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "ShuffledHashJoin" not in plan, plan


class TestRound3PlanShapes:
    """Round-3 operators: the scale-relevant plan facts for the composed
    ANN path, grid-blocked geometry, postings joins, and sampling."""

    def test_ivfpq_one_kernel_pass(self, spark, sf_dir):
        """IVF+PQ: the coarse lists, codes, ADC sums and exact distances
        come from one Arrow-batch kernel pass over the scan; nothing
        degenerates to a cartesian product."""
        assert_one_kernel_pass(
            plan_of(registry.queries()["similarity_ivfpq_search"](spark, sf_dir))
        )

    def test_pq_adc_recall_one_kernel_pass(self, spark, sf_dir):
        assert_one_kernel_pass(
            plan_of(registry.queries()["embedding_pq_adc_recall"](spark, sf_dir))
        )

    def test_spatial_grid_join_is_equi_join(self, spark, sf_dir):
        """Grid blocking must plan as a hash equi-join on (cx, cy) — a
        range join that fell back to nested loops would be O(n^2)."""
        plan = plan_of(
            registry.queries()["spatial_grid_neighbor_join"](spark, sf_dir)
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_phrase_search_pushes_nothing_quadratic(self, spark, sf_dir):
        """Positional phrase search: postings self-join stays an equi-join
        on (doc, position)."""
        plan = plan_of(
            registry.queries()["phrase_search_positional"](spark, sf_dir)
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_consistent_sample_broadcasts_entity_filter(self, spark, sf_dir):
        """The sampled-customer key set broadcasts into the orders scan —
        the fact side never shuffles to apply the sample."""
        plan = plan_of(
            registry.queries()["consistent_join_sample"](spark, sf_dir)
        )
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_markov_eval_broadcasts_model(self, spark, sf_dir):
        """Scoring joins the 4-row model by broadcast, never a shuffle of
        the test transitions."""
        plan = plan_of(
            registry.queries()["markov_next_event_accuracy"](spark, sf_dir)
        )
        assert "BroadcastHashJoin" in plan


class TestRound4PlanShapes:
    """Plan pins for the round-4 operators' scale-critical properties."""

    def test_hill_tail_index_uses_top_k_not_global_sort(self, spark, sf_dir):
        """The top-(k+1) must plan as TakeOrderedAndProject (per-partition
        heap + driver merge), never a full global sort of orders."""
        plan = plan_of(registry.queries()["hill_tail_index"](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, plan

    def test_bh_fdr_broadcasts_dims(self, spark, sf_dir):
        plan = plan_of(registry.queries()["benjamini_hochberg_fdr"](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_fellegi_sunter_no_cartesian(self, spark, sf_dir):
        """Candidate pairs must come from the brand-block equi-join — a
        cartesian product over parts would be the N² disaster."""
        plan = plan_of(registry.queries()["fellegi_sunter_linkage"](spark, sf_dir))
        assert "CartesianProduct" not in plan, plan

    def test_misra_gries_two_pass_shape(self, spark, sf_dir):
        """Pass 1 is mapInPandas (per-partition MG summaries); pass 2
        joins the tiny candidate set back by broadcast."""
        plan = plan_of(
            registry.queries()["misra_gries_heavy_hitters"](spark, sf_dir)
        )
        assert "MapInPandas" in plan, plan
        assert "BroadcastHashJoin" in plan, plan

    def test_wasserstein_pushes_priority_filters(self, spark, sf_dir):
        plan = plan_of(registry.queries()["wasserstein_1d_drift"](spark, sf_dir))
        assert re.search(r"PushedFilters:.*o_orderpriority", plan), plan

    def test_glm_fits_have_no_cartesian_blowup(self, spark, sf_dir):
        for q in ["logistic_newton_glm", "poisson_glm_newton"]:
            plan = plan_of(registry.queries()[q](spark, sf_dir))
            assert "CartesianProduct" not in plan, q

    def test_texttiling_no_cartesian(self, spark, sf_dir):
        plan = plan_of(
            registry.queries()["texttiling_chunk_boundaries"](spark, sf_dir)
        )
        assert "CartesianProduct" not in plan, plan


class TestLakehousePlans:
    def test_mor_read_broadcasts_deletion_vector(self, spark, tmp_path):
        """The deletion-vector anti-join must broadcast the (tiny) delete
        side — the data side of a 100 TB table cannot shuffle just to
        apply a KB-sized vector."""
        from hbase_to_mongo_export_spark.operators.merge import (
            ParquetMergeTable,
        )

        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        t.create(
            spark.createDataFrame(
                [(i, float(i)) for i in range(1000)], "id bigint, val double"
            ).repartitionByRange(4, F.col("id"))
        )
        t.delete_where(F.col("id") % 100 == 7)
        plan = plan_of(t.read())
        assert re.search(r"BroadcastHashJoin.*LeftAnti", plan), plan
        assert "SortMergeJoin" not in plan, plan

    def test_clean_read_has_no_join_at_all(self, spark, tmp_path):
        """A table without pending deletes must read as a bare scan —
        no anti-join, no metadata columns in the plan."""
        from hbase_to_mongo_export_spark.operators.merge import (
            ParquetMergeTable,
        )

        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        t.create(
            spark.createDataFrame([(1, 2.0)], "id bigint, val double")
        )
        plan = plan_of(t.read())
        assert "Join" not in plan, plan

    def test_merge_pruning_scan_reads_only_key_columns(self, spark, tmp_path):
        """The copy-on-write file-pruning pass must scan ONLY the merge
        key (+ hidden _metadata) — reading the full row width here would
        double the IO of every MERGE at 100 TB."""
        from hbase_to_mongo_export_spark.operators.merge import (
            ParquetMergeTable,
        )

        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        t.create(
            spark.createDataFrame(
                [(i, f"n{i}", float(i)) for i in range(100)],
                "id bigint, name string, amount double",
            )
        )
        m = t._manifest(0)
        source = spark.createDataFrame(
            [(1, "x", 0.0)], "id bigint, name string, amount double"
        )
        plan = plan_of(t._pruning_df(t._live_scan(m), source, ["id"], True))
        mm = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert mm, plan
        read_cols = {c.split(":")[0] for c in mm.group(1).split(",") if c}
        assert read_cols == {"id"}, plan

    def test_oversized_mor_vector_plans_sort_merge(self, spark, tmp_path, monkeypatch):
        """Past the manifest-tracked delete-row threshold, the MoR
        anti-join must not broadcast — the guarded fallback that keeps a
        huge deletion vector from OOMing the driver."""
        from hbase_to_mongo_export_spark.operators.merge import (
            ParquetMergeTable,
        )

        monkeypatch.setattr(ParquetMergeTable, "DELETE_BROADCAST_MAX_ROWS", 0)
        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        t.create(
            spark.createDataFrame(
                [(i, float(i)) for i in range(1000)], "id bigint, val double"
            ).repartitionByRange(4, F.col("id"))
        )
        t.delete_where(F.col("id") % 2 == 0)
        plan = plan_of(t.read())
        assert re.search(r"SortMergeJoin.*LeftAnti", plan), plan
        assert "BroadcastHashJoin" not in plan, plan

    def test_zorder_compact_plan_has_no_single_partition_stage(
        self, spark, tmp_path
    ):
        """OPTIMIZE ZORDER must never funnel the table through one task:
        the rank normalization is approx-quantile bucket edges + a CASE
        tree — no global-window ntile, no Exchange SinglePartition, no
        Window at all."""
        from hbase_to_mongo_export_spark.plans.layout import morton_clustered

        df = spark.range(10_000).select(
            F.col("id"), (F.col("id") * 7 % 1000).cast("double").alias("x")
        )
        out = (
            morton_clustered(df, "id", "x")
            .repartitionByRange(8, F.col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        plan = plan_of(out)
        assert "SinglePartition" not in plan, plan
        assert "Window" not in plan, plan


class TestRound7bLakehousePlans:
    def _table(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import (
            ParquetMergeTable,
        )
        from pyspark.sql import functions as F

        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        t.create(
            spark.createDataFrame(
                [(i, f"n{i}", float(i)) for i in range(100)],
                "id bigint, name string, amount double",
            ).repartitionByRange(4, F.col("id"))
        )
        return t

    def test_update_detection_scan_prunes_to_predicate_columns(
        self, spark, tmp_path
    ):
        """update_where/overwrite_where's touched-file detection plan
        (filter → select _file → distinct over the live scan) must read
        ONLY the predicate column — full-width detection would double
        the IO of every UPDATE at 100 TB. Catalyst's column pruning does
        this for free BECAUSE the scan is declared as a plain projection;
        this pin fails if some future change (a UDF in the path, a
        non-prunable wrapper) breaks that."""
        from pyspark.sql import functions as F

        t = self._table(spark, tmp_path)
        m = t._manifest(0)
        live = t._scan(m, m["files"])
        detection = live.filter(F.col("id") < 10).select("_file").distinct()
        plan = plan_of(detection)
        mm = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert mm, plan
        read_cols = {c.split(":")[0] for c in mm.group(1).split(",") if c}
        assert read_cols == {"id"}, plan

    def test_by_source_victim_scan_prunes_to_key_and_condition(
        self, spark, tmp_path
    ):
        """The WHEN NOT MATCHED BY SOURCE victim-detection pass (live
        scan → anti-join source keys → filter condition → select _file
        distinct — the exact sub-plan merge() builds) must read ONLY the
        join key + condition columns: the clause family examines the
        complement of the matched set, so an unpruned detection scan
        would read the full width of ~the whole table."""
        from pyspark.sql import functions as F

        t = self._table(spark, tmp_path)
        m = t._manifest(0)
        live = t._scan(m, m["files"])
        keys = spark.createDataFrame([(1,)], "id bigint")
        detection = (
            live.join(F.broadcast(keys), ["id"], "anti")
            .filter(F.coalesce(F.col("amount") < 10.0, F.lit(False)))
            .select("_file")
            .distinct()
        )
        plan = plan_of(detection)
        mm = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert mm, plan
        read_cols = {c.split(":")[0] for c in mm.group(1).split(",") if c}
        assert read_cols == {"id", "amount"}, plan

    def test_mapped_read_still_pushes_residual_filter(self, spark, tmp_path):
        """After a rename, read(where=...) must still push the residual
        predicate into the parquet scan (PushedFilters on the PHYSICAL
        column) — the logical alias is a projection on top, which
        Catalyst pushes through."""
        t = self._table(spark, tmp_path)
        t.rename_column("amount", "price")
        df = t.read(where=[("price", ">=", 90.0)])
        plan = plan_of(df)
        assert "PushedFilters: [" in plan, plan
        assert "GreaterThanOrEqual(amount,90.0)" in plan, plan


class TestWidenedReadPlans:
    def test_widened_read_pushes_filters_and_prunes_columns(
        self, spark, tmp_path
    ):
        """After a TYPE WIDENING the scan runs under the manifest's
        explicit wide schema — pushdown and column pruning must survive
        that: the filter lands in PushedFilters and ReadSchema carries
        the WIDE type even though most files are physically narrow."""
        from pyspark.sql import functions as F

        from hbase_to_mongo_export_spark.operators.merge import (
            ParquetMergeTable,
        )

        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        t.create(
            spark.createDataFrame(
                [(i, float(i)) for i in range(100)], "id int, v float"
            ).repartitionByRange(4, F.col("id"))
        )
        t.append(
            spark.createDataFrame([(2**40, 1.0)], "id bigint, v double"),
            schema_evolution=True,
        )
        df = t.read(where=[("id", ">=", 90)])
        plan = plan_of(df)
        assert "PushedFilters: [" in plan, plan
        assert "GreaterThanOrEqual(id,90)" in plan, plan
        mm = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert mm and "id:bigint" in mm.group(1), plan
        # projection pruning through the wide schema: one column read
        narrow = t.read().select("v")
        plan2 = plan_of(narrow)
        mm2 = re.search(r"ReadSchema: struct<([^>]*)>", plan2)
        assert mm2, plan2
        assert {c.split(":")[0] for c in mm2.group(1).split(",") if c} == {"v"}, plan2


class TestNestedEvolutionPlans:
    def test_nested_pruning_and_pushdown_survive_evolution(
        self, spark, tmp_path
    ):
        """After a NESTED evolution (struct gains a field, a nested leaf
        widens) the scan runs under the manifest's explicit evolved
        schema — nested-field pruning and nested pushdown must survive:
        a query touching only s.x reads struct<s:struct<x:bigint>> (not
        the whole evolved struct) and its filter lands in PushedFilters
        as s.x."""
        from hbase_to_mongo_export_spark.operators.merge import (
            ParquetMergeTable,
            src,
        )

        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        t.create(
            spark.createDataFrame(
                [(i, (i, f"y{i}")) for i in range(100)],
                "id bigint, s struct<x:int,y:string>",
            ).repartitionByRange(4, F.col("id"))
        )
        t.merge(
            spark.createDataFrame(
                [(3, (2**40, "Y", 7.5))],
                "id bigint, s struct<x:bigint,y:string,z:double>",
            ),
            on=["id"],
            when_matched_update={"s": src("s")},
            schema_evolution=True,
        )
        df = t.read().select(F.col("s.x").alias("x")).filter(F.col("x") >= 90)
        plan = df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(s\.x,90\)", plan), plan
        mm = re.search(r"ReadSchema: struct<(.*)>$", plan, re.MULTILINE)
        assert mm, plan
        # only s.x is read, at the WIDENED nested type, and nothing else
        assert mm.group(1) == "s:struct<x:bigint>", plan
