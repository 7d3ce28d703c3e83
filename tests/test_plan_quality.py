"""Physical-plan contracts — the 100 TB design point asserted
structurally (SURVEY.md §4): filters reach the parquet scan, scans
prune columns, small join sides broadcast, Top-K avoids global sorts,
and hot aggregate paths stay inside whole-stage codegen. A regression
here means a query silently degraded into a scale hazard even though
its values still match the oracle."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from avk_job_skill_analytics_spark.plans import inspect as I

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    return E.queries()


def test_range_filter_pushes_to_scan(spark, queries):
    df = queries["p5_range_filter"](spark, SF_DIR)
    pushed = " ".join(I.pushed_filters(df))
    assert "GreaterThanOrEqual(l_extendedprice" in pushed
    assert "LessThanOrEqual(l_extendedprice" in pushed


def test_projection_prunes_read_schema(spark, queries):
    df = queries["p5_range_filter"](spark, SF_DIR)
    schemas = I.read_schemas(df)
    assert schemas, "no file scan found"
    # the 11-column lineitem scan must decode only the filtered column
    assert all(s.count(":") <= 2 for s in schemas), schemas


def test_topn_semijoin_broadcasts_build_side(spark, queries):
    df = queries["j2_topn_semijoin"](spark, SF_DIR)
    assert I.has_node(df, "BroadcastHashJoin")
    assert not I.has_node(df, "SortMergeJoin")


def test_anti_join_broadcasts_manifest(spark, queries):
    df = queries["j1_anti_join"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_topk_avoids_global_sort(spark, queries):
    df = queries["o3_topk_customers"](spark, SF_DIR)
    assert I.has_node(df, "TakeOrderedAndProject")


def test_priority_sample_avoids_global_sort(spark, queries):
    df = queries["o4_priority_sample"](spark, SF_DIR)
    assert I.has_node(df, "TakeOrderedAndProject")


def test_er_blocking_has_no_cartesian(spark, queries):
    # the candidate self-join must stay keyed on the blocking key
    df = queries["er_candidate_pairs"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_graph_joins_on_signature_only(spark, queries):
    # the all-pairs regime must be LSH-bucketed, never a cross join
    df = queries["ann_knn_graph"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pricing_summary_partial_agg_and_codegen(spark, queries):
    df = queries["a7_pricing_summary"](spark, SF_DIR)
    plan = I.plan_string(df)
    # partial (map-side) + final aggregate pair around one shuffle
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") >= 1
    # AQE reveals codegen annotations only in the final executed plan
    final = I.final_plan_string(df)
    assert re.findall(r"\[codegen id : (\d+)\]", final)


def test_ann_broadcasts_query_side(spark, queries):
    df = queries["ann_cosine_topk"](spark, SF_DIR)
    plan = I.plan_string(df)
    # corpus is never shuffled for the scoring join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_curation_pipeline_stays_in_codegen(spark, queries):
    # the whole transform chain (regex cleaning, type inference,
    # fills, dedup window, salary band) must compile to native
    # expressions -- no Python evaluation nodes anywhere
    df = queries["pipeline_curate"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    final = I.final_plan_string(df)
    assert re.findall(r"\[codegen id : (\d+)\]", final)


def test_tpch_q6_filters_push_to_scan(spark, queries):
    df = queries["tpch_q6_revenue"](spark, SF_DIR)
    pushed = " ".join(I.pushed_filters(df))
    assert "l_discount" in pushed and "l_quantity" in pushed


def test_tpch_q3_aqe_broadcasts_dim_and_bounds_topk(spark, queries):
    # customer scales with SF so the query carries no hard broadcast
    # hint — at test scale AQE must still runtime-broadcast the
    # filtered customer side; top-10 never global-sorts
    df = queries["tpch_q3_shipping_priority"](spark, SF_DIR)
    assert I.has_node(df, "TakeOrderedAndProject")
    final = I.final_plan_string(df)
    assert "BroadcastHashJoin" in final


# The Power BI card queries: a dashboard refresh rebuilds each one over
# unchanged tables, so building them must cost no Spark job once the
# parquet schema cache is warm.
BI_CARDS = (
    "a1_total_count", "a2_distinct_counts", "a3_a5_kpi_cards",
    "a7_pricing_summary", "a9_events_latest_month", "a12_top_tokens",
    "j1_anti_join", "j3_bridge_join", "p4_regex_filter",
    "tpch_q3_shipping_priority", "tpch_q6_revenue",
    "tpch_q12_late_shipments",
)


@pytest.mark.parametrize("name", BI_CARDS)
def test_bi_card_build_launches_no_job(spark, queries, name):
    queries[name](spark, SF_DIR)  # warm the schema cache
    _, jobs = I.build_jobs(spark, lambda: queries[name](spark, SF_DIR))
    assert jobs == 0, f"{name} launched {jobs} jobs while building"


def test_bucketed_join_needs_no_exchange(spark):
    from avk_job_skill_analytics_spark.plans import bucketing

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    try:
        bucketing.write_bucketed(o, "b_orders", "o_orderkey", buckets=4)
        bucketing.write_bucketed(li, "b_lineitem", "l_orderkey", buckets=4)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("b_lineitem").join(
                spark.table("b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            ).select("l_orderkey", "o_totalprice", "l_extendedprice")
            plan = I.plan_string(joined)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # the write-time bucketing satisfies the join's distribution:
        # a shuffle-free sort-merge join, sorts elided by sortBy
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
    finally:
        bucketing.drop_table(spark, "b_orders")
        bucketing.drop_table(spark, "b_lineitem")


def test_ud1_filter_stays_above_python_eval(spark):
    # SURVEY §4: a predicate added AFTER skill extraction must not be
    # reordered below the external call (each extracted row is a billed
    # API request). mapInPandas emits fresh output attributes, so
    # Catalyst cannot rewrite the filter against the input — assert the
    # plan keeps Filter above the Python eval node.
    from avk_job_skill_analytics_spark.operators.skills import (
        LLMSkillExtractor,
    )

    df = spark.range(8).withColumn(
        "description",
        F.concat(F.lit("python and sql experience required, id "), F.col("id")),
    )
    fake = lambda texts: [("python, sql", "teamwork")] * len(texts)
    out = LLMSkillExtractor(fake).extract(df, "id", "description")
    filtered = out.filter(F.col("technical_skills").contains("python"))
    plan = I.plan_string(filtered, mode="simple")
    eval_m = re.search(r"MapInPandas|ArrowEvalPython|BatchEvalPython", plan)
    filt_m = re.search(r"Filter", plan)
    assert eval_m and filt_m, plan
    # explain() prints top-down: the Filter line must appear ABOVE
    # (i.e. at a smaller offset than) the Python eval node
    assert filt_m.start() < eval_m.start(), plan
    # and the filter still runs correctly above the barrier
    assert filtered.count() == 8


def test_tpch_q2_decorrelates_scalar_subquery(spark, queries):
    # the per-part correlated `SELECT min(price)` must be rewritten
    # into one per-key aggregate joined back (a single extra lineitem
    # shuffle) — a surviving per-row ScalarSubquery would re-scan
    # lineitem once per part row at 100 TB
    df = queries["tpch_q2_min_cost_supplier"](spark, SF_DIR)
    plan = I.plan_string(df, mode="simple")
    assert "ScalarSubquery" not in plan, plan
    assert "min(l_extendedprice" in plan  # the decorrelated aggregate


def test_skew_join_aqe_splits_hot_partition(spark):
    # j8_skew_join's scale contract: AQE splits the hot key's shuffle
    # partition across several reducer tasks. The split works by map-
    # output chunks, so the fact side must have >1 mapper — the
    # single-row-group test parquet reads as ONE map task and is
    # therefore unsplittable (a 100 TB table always scans as many
    # tasks); the repartition(8) below stands in for that multi-file
    # layout. Thresholds are lowered to make test-scale bytes "skewed".
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        hot = lambda c: F.when(c % 1000 < 900, F.lit(0)).otherwise(c % 1000)
        li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        f = li.repartition(8).select(
            hot(F.col("l_partkey")).alias("sk"), "l_extendedprice"
        )
        d = (
            spark.read.parquet("/root/testdata/sf0.1/part.parquet")
            .filter(F.col("p_partkey") < 1000)
            .select(F.col("p_partkey").alias("sk"),
                    F.col("p_type").alias("type_label"))
        )
        out = (
            f.join(d, "sk")
            .groupBy("type_label")
            .agg(F.count(F.lit(1)).alias("n_lines"))
        )
        final = I.final_plan_string(out, mode="simple")
        assert "skew=true" in final, final
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpch_q21_correlation_becomes_semi_and_anti_join(spark, queries):
    # the EXISTS / NOT EXISTS double correlation must execute as one
    # LEFT SEMI and one LEFT ANTI equi-join on the order key (with the
    # suppkey inequality as a residual) — never as a per-row subquery
    df = queries["tpch_q21_waiting_supplier"](spark, SF_DIR)
    plan = I.plan_string(df, mode="simple")
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "ScalarSubquery" not in plan, plan
    assert I.has_node(df, "TakeOrderedAndProject")


def test_tpch_q11_total_joins_as_one_row_broadcast(spark, queries):
    # the self-referential total must re-aggregate the per-part frame
    # into ONE row and come back as a broadcast nested-loop cross
    # join — a second scan of lineitem would double the fact I/O
    df = queries["tpch_q11_important_stock"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("FileScan parquet") <= 3, plan  # lineitem once


def test_scd2_windows_share_one_exchange(spark, queries):
    # both window passes partition by o_custkey — the second sort must
    # reuse the first hash partitioning, not add a second shuffle
    df = queries["win_scd2_intervals"](spark, SF_DIR)
    plan = I.plan_string(df, mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window") == 2, plan


def test_partitioned_read_prunes_by_directory(spark, queries):
    # the date slice must resolve against partition directories
    # (PartitionFilters), not as a row-level filter over all files
    df = queries["io_partitioned_prune"](spark, SF_DIR)
    plan = I.plan_string(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_date" in m.group(1), plan
    # 30 daily partitions exist; the slice reads 10
    assert 10 in I.scan_partition_counts(df), plan


def test_ann_cell_read_prunes_by_directory(spark, queries):
    # probing 2 of 8 IVF cells must resolve against the cell partition
    # directories, never opening an unprobed cell's files
    df = queries["io_ann_cell_prune"](spark, SF_DIR)
    plan = I.plan_string(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cid" in m.group(1), plan
    assert 2 in I.scan_partition_counts(df), plan


def test_runtime_bloom_filter_prunes_probe_side(spark):
    # the session factory enables runtime bloom-filter join pruning
    # (plans/session.py): a selective filter on the build side must
    # inject a might_contain() pre-filter into the probe-side scan,
    # cutting shuffle input before the join. Size thresholds are
    # lowered to make test-scale bytes eligible (at 100 TB the
    # defaults fire on their own); broadcast disabled because a
    # broadcast join already prunes via its hash table.
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        plan = I.plan_string(j, mode="simple")
        assert "might_contain" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pack_sequences_single_shuffle(spark, queries):
    # the running-sum window and the per-sequence rollup both hash by
    # shard — the groupBy must reuse the window's Exchange
    df = queries["txt_pack_sequences"](spark, SF_DIR)
    plan = I.plan_string(df, mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan, plan


def test_image_patches_no_shuffle(spark, queries):
    # decode + grid explode pipeline inside one stage: no Exchange
    df = queries["mm_image_patches"](spark, SF_DIR)
    plan = I.plan_string(df, mode="simple")
    assert "Exchange" not in plan, plan


def _exchange_lines(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "Exchange" in ln]


def test_media_payloads_never_shuffle(spark, queries):
    # the multimodal contract: binary payloads are synthesized AND
    # consumed inside one pipelined mapInPandas pair; the only
    # Exchanges are the bare-id spread before synthesis and hash
    # shuffles of the small typed ledgers after decode — a payload
    # column in any Exchange means megabytes of bytes started riding
    # the shuffle
    for name in ("mm_webp_pixel_stats", "mm_ahash_dedup",
                 "mm_clip_matches", "mm_pcm_stats", "mm_pixel_stats",
                 "mm_frame_stats"):
        df = queries[name](spark, SF_DIR)
        for ln in _exchange_lines(I.plan_string(df)):
            assert "payload" not in ln, (name, ln)


def test_pcm_and_webp_stats_single_spread_exchange(spark, queries):
    # per-row-pure decode chains: the id spread is the ONLY shuffle,
    # and the scan reads just the id column
    for name in ("mm_pcm_stats", "mm_webp_pixel_stats"):
        df = queries[name](spark, SF_DIR)
        plan = I.plan_string(df, mode="simple")
        assert plan.count("Exchange") == 1, (name, plan)
        assert "RoundRobinPartitioning" in plan, (name, plan)
        schemas = I.read_schemas(df)
        assert schemas and all("doc_id" in s and "text" not in s
                               for s in schemas), (name, schemas)


def test_ahash_dedup_aggregates_map_side(spark, queries):
    # the hash groupBy must start with a partial aggregate below the
    # Exchange (map-side combine), so the shuffle carries one row per
    # (hash, format), not one per image
    df = queries["mm_ahash_dedup"](spark, SF_DIR)
    plan = I.plan_string(df, mode="simple")
    # bottom-most HashAggregate (map side, below every Exchange) must
    # be a partial aggregate
    assert "partial" in plan[plan.rindex("HashAggregate"):], plan
    assert plan.index("HashAggregate") < plan.index(
        "Exchange hashpartitioning"), plan


def test_clip_matches_join_is_sig_blocked(spark, queries):
    # video copy detection must join on the signature key (hash or
    # broadcast-hash), never degenerate into frames x frames
    df = queries["mm_clip_matches"](spark, SF_DIR)
    plan = I.plan_string(df, mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "sig" in plan.split("Join", 1)[1][:200], plan


def test_bucketed_join_query_single_exchange(spark, queries):
    # bucketed scans satisfy the join's distribution: the only
    # Exchange left is the final priority rollup above the join
    df = queries["io_bucketed_join"](spark, SF_DIR)
    plan = I.plan_string(df, mode="simple")
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert plan.index("Exchange") < plan.index("SortMergeJoin"), plan


def test_sorted_skip_pushes_ts_to_scan(spark, queries):
    # the two ts predicates must reach the parquet reader, where the
    # range-sorted files' footer stats can reject whole files
    df = queries["io_sorted_skip"](spark, SF_DIR)
    pushed = " ".join(I.pushed_filters(df))
    assert "GreaterThanOrEqual(ts" in pushed, pushed
    assert "LessThan(ts" in pushed, pushed


def test_time_clustered_plans_range_exchange(spark):
    from avk_job_skill_analytics_spark.plans.bucketing import time_clustered

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = I.plan_string(time_clustered(ev, "value", 8), mode="simple")
    assert "rangepartitioning" in plan.lower(), plan
    assert "Sort" in plan, plan


def test_zorder_skip_pushes_both_dims_to_scan(spark, queries):
    # both range predicates reach the reader — the z-layout makes
    # footer stats selective on either dimension
    df = queries["io_zorder_skip"](spark, SF_DIR)
    pushed = " ".join(I.pushed_filters(df))
    assert "user_id" in pushed, pushed
    assert "value" in pushed, pushed


def test_funnel_windows_share_one_hash_exchange(spark, queries):
    # three stage windows + the per-user reduce all hash by user_id:
    # one hash Exchange, plus only the final 1-row SinglePartition
    df = queries["win_funnel_steps"](spark, SF_DIR)
    plan = I.plan_string(df, mode="simple")
    assert plan.count("Window") == 3, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_dynamic_partition_pruning_fires(spark, queries):
    # the dim-join filter must appear as a runtime partition filter
    # on the fact scan, not as a post-scan row filter
    df = queries["io_dynamic_partition_prune"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert "dynamicpruningexpression" in plan.lower(), plan


def test_global_shuffle_avoids_single_reducer_sort(spark, queries):
    """pipeline_global_shuffle's scale contract: positions come from
    bucket-partitioned windows + a broadcast offsets join — NOT from a
    global ORDER BY (rangepartitioning into one total order) or an
    unpartitioned window over the corpus."""
    df = queries["pipeline_global_shuffle"](spark, SF_DIR)
    plan = I.plan_string(df)
    # the corpus-ranking window shuffles by the BUCKET hash, i.e. a
    # parallel partitioned window, not a total order
    assert re.search(r"hashpartitioning\(_b", plan), plan
    # no range partitioning of the corpus into a single global sort
    assert "rangepartitioning" not in plan.lower(), plan
    # the offsets side joins as a broadcast
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_semantic_prune_broadcasts_and_stays_native(spark, queries):
    # centroid assignment inlines the collected k-row codebook as a
    # codegen array_min -- the corpus is NEVER shuffled or joined to
    # meet it: zero Exchange of any kind, zero join nodes. (This
    # replaced the old broadcast-crossJoin + per-row-id window, whose
    # Window.partitionBy(id) forced a full-corpus hash Exchange.)
    from avk_job_skill_analytics_spark.operators.clustering import (
        assign_clusters,
        kmeans_fit,
    )
    from avk_job_skill_analytics_spark.plans.schemas import load

    e = load(spark, SF_DIR, "embeddings")
    cents = kmeans_fit(e, "vec_id", "embedding", k=3, iters=1)
    asg = assign_clusters(e, cents, "vec_id", "embedding")
    plan = I.plan_string(asg)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    # ...and the end-to-end query is pure Column expressions: no
    # Python eval nodes, no cartesian pair expansion
    df = queries["dd_semantic_prune"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ann_assignment_stages_never_shuffle_the_corpus(spark):
    # ivf/pq/ivfpq: codebooks are collected and inlined, so the ONLY
    # shuffle Exchange left in each full plan is the final per-query
    # top-k window over (query, id, score) triples -- the corpus
    # vectors themselves never hash-partition. The old plans carried
    # one full-corpus Exchange per assignment window (m+2 of them in
    # IVF-PQ).
    import re

    from avk_job_skill_analytics_spark.operators import similarity
    from avk_job_skill_analytics_spark.plans.schemas import load

    e = load(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    for df in (
        similarity.ivf_topk(e, q, "vec_id", "embedding",
                            k=3, n_centroids=4, n_probe=2),
        similarity.pq_topk(e, q, "vec_id", "embedding",
                           k=3, m=8, sub_d=8, k_star=4),
        similarity.ivfpq_topk(e, q, "vec_id", "embedding", k=3,
                              n_cells=4, n_probe=2, m=8, sub_d=8,
                              k_star=4),
    ):
        plan = I.plan_string(df)
        shuffles = re.findall(r"Exchange (?:hash|range)partitioning", plan)
        assert len(shuffles) <= 1, plan
        assert "CartesianProduct" not in plan


def test_containment_joins_on_hashed_shingle_no_cartesian(spark, queries):
    # the inverted-index self-join must be an equi-join on the 60-bit
    # shingle hash -- never a cartesian/nested-loop pair expansion
    # (at sf0.001 every side broadcasts; the contract is the JOIN
    # FORM, not the exchange strategy AQE picks for the size)
    df = queries["dd_containment"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def test_heavy_hitters_recount_broadcasts_candidates(spark, queries):
    # pass 2's semi-join must broadcast the (bounded) candidate set so
    # the filter runs map-side before the count shuffle; the full
    # vocabulary must never be the join's shuffle key
    df = queries["agg_heavy_hitters"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_prefilter_tests_bits_in_codegen(spark, queries):
    # the bitmap joins in as a 1-row broadcast and the j probe tests
    # run as native expressions (shiftleft/element_at) inside codegen —
    # no Python eval anywhere in the prefilter path
    df = queries["dd_bloom_prefilter"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bitmap side
    assert "shiftleft" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_triangle_wedge_join_is_equi_join(spark, queries):
    # wedge generation and closure must be hash equi-joins on node
    # keys — a cartesian pair expansion here is the O(n^2) hazard the
    # degree orientation exists to prevent
    df = queries["graph_triangles"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gram_matrix_shuffles_only_partials(spark):
    # the only exchange in the Gram plan carries the (i, j, part_gram)
    # partial rows — d(d+1)/2 per partition — never the vectors
    from avk_job_skill_analytics_spark.operators.linalg import gram_matrix
    from avk_job_skill_analytics_spark.plans.schemas import load

    e = load(spark, SF_DIR, "embeddings")
    df = gram_matrix(e, "embedding", d=64)
    plan = I.plan_string(df)
    ex_keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert ex_keys, "expected one hash exchange for the (i,j) sum"
    assert all("embedding" not in s for s in ex_keys)
    # and the sum partial-aggregates below the exchange
    assert "partial_sum" in plan


def test_dsir_ratio_table_broadcasts(spark, queries):
    # the 64-row log-ratio model must broadcast onto the per-doc
    # bucket counts; shuffling the corpus by bucket to meet the model
    # would be the scale inversion
    df = queries["txt_dsir_importance"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert "BroadcastHashJoin" in plan


def test_shard_assign_corpus_window_is_bucket_partitioned(spark, queries):
    # the data-scaled prefix window must partition by bucket; only the
    # bucket histogram may cross a single partition
    df = queries["mm_shard_assign"](spark, SF_DIR)
    plan = I.plan_string(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs
    corpus_specs = [s for s in specs if "_id" in s]
    assert corpus_specs and all("_b" in s for s in corpus_specs)


def test_ivfpq_served_reads_only_probed_cells(spark, queries):
    # serving from the stored IVF-PQ index: the probed-cell literal
    # isin() must resolve against the partition directories, and the
    # files actually read must all live under probed _cell= dirs.
    # A 1-query probe set keeps probed ⊂ all cells so the subset
    # assertion has teeth (the registry query's 10 queries cover
    # every cell at test scale).
    from avk_job_skill_analytics_spark.operators import similarity
    from avk_job_skill_analytics_spark.plans.schemas import load
    from avk_job_skill_analytics_spark.registry.io_queries import (
        _ann_ivfpq_index_dir,
    )

    d = _ann_ivfpq_index_dir(spark, SF_DIR)
    coarse = [
        (int(r["cell"]), list(r["cv"]))
        for r in spark.read.parquet(f"{d}/coarse").collect()
    ]
    pq_rows = spark.read.parquet(f"{d}/pq").collect()
    m_sub = 1 + max(int(r["s"]) for r in pq_rows)
    cbs = [
        sorted(
            (int(r["cid"]), list(r["bv"]))
            for r in pq_rows
            if int(r["s"]) == s
        )
        for s in range(m_sub)
    ]
    q = load(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 1)
    probes = similarity.ivfpq_probes(
        q, "vec_id", "embedding", coarse, cbs, n_probe=2, m=m_sub,
        sub_d=8,
    ).localCheckpoint()
    probed_lit = sorted(
        int(r["_cell"]) for r in probes.select("_cell").distinct().collect()
    )
    inv = (
        spark.read.parquet(f"{d}/cells")
        .filter(F.col("_cell").isin(probed_lit))
        .select("_id", F.col("_cell").cast("long").alias("_cell"), "_codes")
    )
    df = similarity.ivfpq_score(inv, probes, k=5)
    plan = I.plan_string(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "_cell" in m.group(1), plan
    # the scan's file index resolves the literal isin against the
    # directory listing: exactly the probed partitions survive
    # (inputFiles() reports the pre-pruning listing, so the scan
    # node's selected-partition count is the authoritative evidence)
    n_cells = len({
        re.search(r"_cell=(\d+)", f).group(1)
        for f in spark.read.parquet(f"{d}/cells").inputFiles()
    })
    counts = I.scan_partition_counts(df)
    assert len(probed_lit) in counts, (counts, probed_lit)
    assert len(probed_lit) < n_cells, (probed_lit, n_cells)


def test_ivfpq_served_matches_in_memory(spark, queries):
    served = queries["ann_ivfpq_served"](spark, SF_DIR)
    mem = queries["ann_ivfpq_topk"](spark, SF_DIR)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, mem.collect())
    )


def test_bm25_topk_scale_shape(spark, queries):
    """BM25's corpus-sized selection must be TakeOrderedAndProject
    (sort+limit heaps) — the rank window runs over k rows only — and
    the df / corpus-stats sides must broadcast, never shuffle the
    posting relation against them."""
    df = queries["txt_bm25_topk"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # the only SortMergeJoin permitted is none: dl joins on id are
    # AQE-planned over aggregated frames, stats/df sides broadcast
    assert "CartesianProduct" not in plan


def test_ivfpq_refine_broadcasts_candidates(spark, queries):
    """The refine stage must fetch raw vectors via a BROADCAST of the
    |Q|*r candidate list — a corpus shuffle here would defeat the
    point of searching the compressed domain first."""
    df = queries["ann_ivfpq_refine"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_calibration_rank_partitions_by_score(spark, queries):
    """ml_calibration_bins's scale contract: the corpus-sized rank
    window is PARTITIONED by score (hash exchange on score_fp); the
    only unpartitioned window runs over the distinct-score relation.
    No range partitioning (global sort) of the scored corpus."""
    df = queries["ml_calibration_bins"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert re.search(r"hashpartitioning\(score_fp", plan), plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_prefix_filter_join_no_cartesian(spark, queries):
    """The exact ss-join must stay an equi-join on prefix tokens —
    no cartesian pair explosion, no corpus-sized window anywhere
    (the per-doc prefix slice is an array_sort + slice projection
    off one groupBy(doc_id), r14 optimization), and verification is
    the map-side array_intersect, not a token-level equijoin."""
    df = queries["dd_prefix_filter_join"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "array_intersect" in plan, plan
    assert "sort_array" in plan or "array_sort" in plan, plan


def test_lift_table_rank_partitions_by_score(spark, queries):
    """ml_lift_table inherits ml_calibration_bins's scale contract:
    the corpus-sized rank window is PARTITIONED by score; no range
    partitioning (global sort) of the scored corpus anywhere."""
    df = queries["ml_lift_table"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert re.search(r"hashpartitioning\(score_fp", plan), plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_similarity_histogram_sample_is_bounded(spark, queries):
    """emb_similarity_histogram's scale contract: the sample is a
    TakeOrderedAndProject (bounded top-k, never a global sort
    exchange) and the pair expansion joins two BROADCAST sides."""
    df = queries["emb_similarity_histogram"](spark, SF_DIR)
    plan = I.plan_string(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def _code_tokens(path):
    """The file's code with strings and comments dropped, as one
    whitespace-free string."""
    import tokenize

    with open(path, "rb") as f:
        return "".join(
            t.string for t in tokenize.tokenize(f.readline)
            if t.type not in (tokenize.STRING, tokenize.COMMENT,
                              tokenize.ENCODING)
            and t.string.strip()
        )


def test_every_drain_goes_through_the_one_runner():
    """streaming/incremental.drain_available_now is the only
    availableNow drain in the package, tools/ and bench.py, and the
    only place that makes a throwaway checkpoint: a new call site
    hands the runner a writer instead of copying the sequence."""
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = [os.path.join(root, "bench.py")] + [
        p for d in ("avk_job_skill_analytics_spark", "tools")
        for p in glob.glob(os.path.join(root, d, "**", "*.py"),
                           recursive=True)
    ]
    runner = os.path.join(
        root, "avk_job_skill_analytics_spark", "streaming", "incremental.py"
    )
    triggers, ckpts = {}, {}
    for p in files:
        n = _code_tokens(p).count(".trigger(availableNow=True)")
        if n:
            triggers[os.path.relpath(p, root)] = n
        with open(p, encoding="utf-8") as f:
            n = len(re.findall(r"""mkdtemp\(prefix=["']ckpt""", f.read()))
        if n:
            ckpts[os.path.relpath(p, root)] = n
    want = {os.path.relpath(runner, root): 1}
    assert triggers == want, triggers
    assert ckpts == want, ckpts


def test_every_round_loop_goes_through_the_one_runner():
    """plans.session.run_rounds owns the round-loop skeleton (shuffle
    sizing, scoped shuffle, per-round checkpoint, convergence probe):
    ``scoped_shuffle(`` and ``sized_partitions(`` appear only in its
    module, and the second CC (``duplicate_clusters``) is gone from
    the package, tools/ and bench.py, code and docs alike."""
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = [os.path.join(root, "bench.py")] + [
        p for d in ("avk_job_skill_analytics_spark", "tools")
        for p in glob.glob(os.path.join(root, d, "**", "*.py"),
                           recursive=True)
    ]
    runner = os.path.join(
        root, "avk_job_skill_analytics_spark", "plans", "session.py"
    )
    skeleton, cc = set(), set()
    for p in files:
        code = _code_tokens(p)
        if p != runner and ("scoped_shuffle(" in code
                            or "sized_partitions(" in code):
            skeleton.add(os.path.relpath(p, root))
        with open(p, encoding="utf-8") as f:
            if "duplicate_clusters" in f.read():
                cc.add(os.path.relpath(p, root))
    assert skeleton == set(), skeleton
    assert cc == set(), cc


def test_round_probe_rides_the_checkpoint_job(spark):
    """run_rounds fills its convergence probe from each round's own
    checkpoint job: rounds with a probe fire exactly as many jobs as
    the same rounds checkpointed with no probe."""
    from avk_job_skill_analytics_spark.plans.session import run_rounds

    base = spark.range(200).select(
        (F.col("id") % 13).alias("k")).localCheckpoint()

    def step(f):
        return f.groupBy("k").count().select("k")

    calls = []

    def counted(f):
        calls.append(f)
        return step(f)

    # distinct k is idempotent: round 2's probe equals round 1's
    probed, n_probed = I.build_jobs(spark, lambda: run_rounds(
        counted, base, 200, 10, probe=(F.count(F.lit(1)).alias("n"),)))
    assert len(calls) == 2

    def plain():
        f = base
        for _ in range(2):
            f = step(f).localCheckpoint()
        return f

    unprobed, n_plain = I.build_jobs(spark, plain)
    assert n_probed == n_plain > 0
    assert sorted(probed.collect()) == sorted(unprobed.collect())


def test_every_growing_index_goes_through_the_one_sink():
    """streaming/batched_index owns the commit protocol (marker
    short-circuit → recovery → write → marker → auto-compaction, and
    the journaled compactor): ``recover_compaction`` and
    ``write_journal`` are called only there,
    no growing-index layout module touches a marker itself, and the
    IVF-PQ modules neither stage through ``localCheckpoint`` nor write
    dynamic partition overwrites."""
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "avk_job_skill_analytics_spark")
    calls = {}
    for p in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        code = _code_tokens(p)
        for fn in ("recover_compaction", "write_journal"):
            n = len(re.findall(rf"(?<!def){fn}\(", code))
            if n:
                calls.setdefault(fn, set()).add(os.path.relpath(p, pkg))
    one = {os.path.join("streaming", "batched_index.py")}
    assert calls == {"recover_compaction": one, "write_journal": one}, calls
    touches = {}
    for m in ("minhash_stream", "ssjoin_stream", "semantic_stream",
              "lexical_stream", "classify_stream", "linear_stream"):
        n = _code_tokens(
            os.path.join(pkg, "streaming", f"{m}.py")).count("fs.touch(")
        if n:
            touches[m] = n
    assert touches == {}, touches
    for rel in (("streaming", "ann_maintain.py"),
                ("operators", "ann_index.py")):
        code = _code_tokens(os.path.join(pkg, *rel))
        assert "localCheckpoint(" not in code, rel
        with open(os.path.join(pkg, *rel), encoding="utf-8") as f:
            assert "partitionOverwriteMode" not in f.read(), rel


def test_every_versioned_cutover_goes_through_fsio():
    """streaming/fsio.Cutover is the one versioned cutover: no module
    of the package, tools/ or bench.py creates or deletes a
    ``_commit_`` file itself (a call whose literal argument names one),
    and the pre-v2 migration names are gone everywhere."""
    import ast
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = [os.path.join(root, "bench.py")] + [
        p for d in ("avk_job_skill_analytics_spark", "tools")
        for p in glob.glob(os.path.join(root, d, "**", "*.py"),
                           recursive=True)
    ]
    fsio = os.path.join("avk_job_skill_analytics_spark", "streaming",
                        "fsio.py")
    mutators = {"touch", "delete", "write_text", "mkdirs", "create",
                "open", "remove", "unlink", "rmtree"}
    outside, legacy = [], []
    for p in files:
        rel = os.path.relpath(p, root)
        with open(p, encoding="utf-8") as f:
            src = f.read()
        legacy += [(rel, n) for n in ("ensure_protocol",
                                      "legacy_overlay_ids", "_protocol_v2")
                   if n in src]
        if rel == fsio:
            continue
        for node in ast.walk(ast.parse(src)):
            if not (isinstance(node, ast.Call)
                    and getattr(node.func, "attr",
                                getattr(node.func, "id", "")) in mutators):
                continue
            lits = [c.value for a in node.args for c in ast.walk(a)
                    if isinstance(c, ast.Constant)
                    and isinstance(c.value, str)]
            if any("_commit_" in v for v in lits):
                outside.append((rel, node.lineno))
    assert outside == [], outside
    assert legacy == [], legacy


def test_every_hyperplane_signature_goes_through_the_one_kernel():
    """similarity._signatures is the only Spark-side hyperplane
    signature and scale_common._sign_bits_sql its only DuckDB twin:
    ``_plane_sign`` is called in the kernel's plane-matrix build and
    in that oracle helper, nowhere else in the package, tools/ or
    bench.py."""
    import ast
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = [os.path.join(root, "bench.py")] + [
        p for d in ("avk_job_skill_analytics_spark", "tools")
        for p in glob.glob(os.path.join(root, d, "**", "*.py"),
                           recursive=True)
    ]
    calls = []
    for p in files:
        with open(p, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        tops = [n for n in tree.body if isinstance(n, ast.FunctionDef)]
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "id", getattr(node.func, "attr", ""))
            if name == "_plane_sign":
                owner = next((t.name for t in tops
                              if t.lineno <= node.lineno <= t.end_lineno),
                             None)
                calls.append((os.path.relpath(p, root), owner))
    pkg = "avk_job_skill_analytics_spark"
    assert sorted(calls) == [
        (os.path.join(pkg, "operators", "similarity.py"), "_signatures"),
        (os.path.join(pkg, "registry", "scale_common.py"),
         "_sign_bits_sql"),
    ], calls


def test_worker_bootstrap_lives_in_one_place():
    """Only the daemon module (``_pydaemon``) touches ``zipimport``,
    and only ``plans.session.get_spark`` sets
    ``spark.python.daemon.module``: an import-system patch anywhere
    else would run in the driver, and a second setter could point the
    workers at a daemon that fails to import."""
    import ast
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = [os.path.join(root, f)
             for f in ("bench.py", "__spark_entry__.py")] + [
        p for d in ("avk_job_skill_analytics_spark", "tools")
        for p in glob.glob(os.path.join(root, d, "**", "*.py"),
                           recursive=True)
    ]
    zip_users, setters = [], []
    for p in files:
        rel = os.path.relpath(p, root)
        if "zipimport" in _code_tokens(p):
            zip_users.append(rel)
        with open(p, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        tops = [n for n in tree.body if isinstance(n, ast.FunctionDef)]
        for node in ast.walk(tree):
            if (isinstance(node, ast.Constant)
                    and node.value == "spark.python.daemon.module"):
                owner = next((t.name for t in tops
                              if t.lineno <= node.lineno <= t.end_lineno),
                             None)
                setters.append((rel, owner))
    pkg = "avk_job_skill_analytics_spark"
    assert zip_users == [os.path.join(pkg, "_pydaemon.py")], zip_users
    assert setters == [(os.path.join(pkg, "plans", "session.py"),
                        "get_spark")], setters


def _new_executions(spark, run) -> list:
    """Status-store records (the UI stays off) of the SQL executions
    ``run`` starts, oldest first."""
    store = spark._jsparkSession.sharedState().statusStore()

    def last(k):  # the newest k executions, oldest first
        n = int(store.executionsCount())
        lst = store.executionsList(max(0, n - k), k)
        return [lst.apply(i) for i in range(lst.size())]

    before = max((e.executionId() for e in last(1)), default=-1)
    run()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    recent = last(64)
    assert len(recent) < 64 or recent[0].executionId() <= before, \
        "window too short"
    return [e for e in recent if e.executionId() > before]


def _python_eval_rows(spark, run) -> int:
    """Output rows of the Python-eval nodes over the SQL executions
    ``run`` starts. A persisted frame's plan is listed under every
    scan of it, so each node's row counter is counted once."""
    store = spark._jsparkSession.sharedState().statusStore()
    rows = {}
    for eid in (e.executionId() for e in _new_executions(spark, run)):
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if not re.search(r"Python|Pandas|InArrow", node.name()):
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                acc = m.accumulatorId()
                if (m.name() == "number of output rows"
                        and values.contains(acc)):
                    text = values.apply(acc).split("\n")[-1]
                    rows[acc] = int(text.split()[0].replace(",", ""))
    return sum(rows.values())


@pytest.mark.parametrize("name", [
    "ann_knn_graph", "ann_lsh_topk", "dd_semantic_prune_lsh",
])
def test_signature_kernel_runs_once_per_vector(spark, queries, name):
    """Each embedding of a query's input frames goes through the
    signature kernel exactly once: the self-join of knn_graph, the
    bucket count and pair join of the banded prune, and the
    inferred ``IS NOT NULL`` filter on the signature join key would
    each re-run it if the signed frame were not shared."""
    n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    # ann_lsh_topk signs the corpus and its 10 queries
    want = n + 10 if name == "ann_lsh_topk" else n
    spark.catalog.clearCache()  # no signed frame left by earlier tests
    got = _python_eval_rows(
        spark,
        lambda: queries[name](spark, SF_DIR)
        .write.format("noop").mode("overwrite").save(),
    )
    assert got == want, f"{name}: {got} rows signed for {want} vectors"


def test_every_driver_frame_goes_through_tiny_df():
    """plans.session.tiny_df is the one constructor for driver-built
    frames: ``createDataFrame(`` and ``.parallelize(`` are called in
    the package only inside it. The one exemption is
    ``readers.hf_dataset_source``, whose input is a pandas frame and
    so already takes Spark's Arrow path."""
    import ast
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "avk_job_skill_analytics_spark")
    calls = []
    for p in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(p, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        defs = [n for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call)
                    and getattr(node.func, "attr", None)
                    in ("createDataFrame", "parallelize")):
                continue
            owner = min(
                (d for d in defs
                 if d.lineno <= node.lineno <= d.end_lineno),
                key=lambda d: d.end_lineno - d.lineno, default=None,
            )
            calls.append((os.path.relpath(p, pkg), node.func.attr,
                          owner.name if owner else None))
    assert sorted(calls) == [
        (os.path.join("plans", "session.py"), "createDataFrame",
         "tiny_df"),
        (os.path.join("sources", "readers.py"), "createDataFrame",
         "hf_dataset_source"),
    ], calls


def test_manifest_frames_start_no_python_worker(spark, tmp_path):
    """The S7 manifest builds its driver-side frames as Arrow local
    relations: marking files loaded and reading a manifest that does
    not exist yet plan no pickled Python RDD (``ExistingRDD``)."""
    from avk_job_skill_analytics_spark.sources.manifest import Manifest

    m = Manifest(spark, str(tmp_path / "manifest"))
    assert "ExistingRDD" not in I.plan_string(m.loaded())
    plans = [e.physicalPlanDescription() for e in _new_executions(
        spark, lambda: m.mark_loaded([f"f{i}.csv" for i in range(10)])
    )]
    assert any("LocalTableScan" in p for p in plans), plans
    assert not any("ExistingRDD" in p for p in plans), plans
    assert m.loaded().count() == 10


def test_compact_fixture_build_writes_from_one_task_and_infers_nothing(
        spark, queries):
    """io_compact_roundtrip's fixture build, with load()'s events
    schema warm, fires 4 jobs: the one-partition count, the one-task
    write of the accreted files and the compaction's shuffle and
    write. Every one belongs to a SQL execution, so none is a
    footer-inference job: the accreted and compacted directories are
    read back through their recorded schemas."""
    import os

    from avk_job_skill_analytics_spark.registry import io_queries

    queries["io_compact_roundtrip"](spark, SF_DIR)
    io_queries._COMPACT_DIRS.pop(SF_DIR)
    counted = []
    execs = _new_executions(spark, lambda: counted.append(I.build_jobs(
        spark, lambda: queries["io_compact_roundtrip"](spark, SF_DIR))[1]))
    assert counted == [4], counted
    assert sum(e.jobs().size() for e in execs) == 4
    small = os.path.join(io_queries._COMPACT_DIRS[SF_DIR], "small")
    files = [f for f in os.listdir(small) if f.endswith(".parquet")]
    assert len(files) >= 40, files
    # part-<task>-<uuid>-c<seq>: one task wrote them all
    assert {f.split("-")[1] for f in files} == {"00000"}, files


def test_warehouse_database_is_made_in_one_place():
    """registry.io_queries._warehouse is the only code that names a
    Derby URL or creates a database: ``jdbc:derby:`` and
    ``create=true`` appear in the package, tools/, bench.py and
    __spark_entry__.py only inside it, so no S6 call can make a
    database of its own again."""
    import ast
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = [os.path.join(root, f)
             for f in ("bench.py", "__spark_entry__.py")] + [
        p for d in ("avk_job_skill_analytics_spark", "tools")
        for p in glob.glob(os.path.join(root, d, "**", "*.py"),
                           recursive=True)
    ]
    found = set()
    for p in files:
        with open(p, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        tops = [n for n in tree.body if isinstance(n, ast.FunctionDef)]
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Constant)
                    and isinstance(node.value, str)):
                continue
            for token in ("jdbc:derby:", "create=true"):
                if token in node.value:
                    owner = next((t.name for t in tops
                                  if t.lineno <= node.lineno
                                  <= t.end_lineno), None)
                    found.add((os.path.relpath(p, root), owner, token))
    where = os.path.join("avk_job_skill_analytics_spark", "registry",
                         "io_queries.py")
    assert found == {(where, "_warehouse", "jdbc:derby:"),
                     (where, "_warehouse", "create=true")}, found
