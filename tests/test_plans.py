"""Physical-plan assertions: the scale contract, checked in CI.

Each test pins a plan property that makes a query viable at cluster
scale — map-side partial aggregation, single-shuffle pipelines for
the k-mer count / exact dedup / winnowing fingerprint — so a
regression that silently degrades the plan (not the result) still
fails. Scan pushdown / pruning / broadcast / top-k plan shapes are
pinned in tests/test_relational.py."""

from __future__ import annotations

import __spark_entry__ as entry


def _plan(spark, sf_dir, name: str) -> str:
    df = entry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_multimodal_scan_prunes_to_used_columns(spark, sf_dir):
    # the media pipeline fabricates payloads from text — the parquet
    # scan must read ONLY (doc_id, text); at 100 TB reading unused
    # document columns into the Arrow batches is the regression that
    # would dominate the stage
    plan = _plan(spark, sf_dir, "multimodal_features")
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    assert "MapInPandas" in plan


def test_agg_is_partial_then_final(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_pricing_summary")
    assert "partial_sum" in plan or "partial_count" in plan, (
        "grouped agg must combine map-side before the shuffle"
    )


def test_kmer_single_shuffle(spark, sf_dir):
    # map phase (explode) is shuffle-free; the only Exchange is the
    # group-count, fed by map-side partial aggregation
    plan = _plan(spark, sf_dir, "kmer_count_k4")
    assert plan.count("Exchange") <= 1, plan
    assert "partial_count" in plan


def test_exact_dedup_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_exact")
    assert plan.count("Exchange") <= 1, plan


def test_fingerprint_no_shuffle_before_agg(spark, sf_dir):
    # winnowing runs inside per-row array expressions: no window sort,
    # no distinct exchange; the only Exchange is the final summary agg
    plan = _plan(spark, sf_dir, "text_fingerprint")
    assert "Window" not in plan
    assert plan.count("Exchange") <= 2  # optional spread repartition + agg


def test_ngram_jaccard_single_index_aggregation(spark, sf_dir):
    # sizes and intersections fan out above the persisted count frame:
    # every consumer must read the cache (InMemoryTableScan), so the
    # expensive collect_set index aggregation executes once — a
    # regression that re-anchors a consumer on the raw lineage shows
    # up here as a consumer reading parquet instead of the cache.
    # (Round 5: replaced the AQE ReusedExchange assertion — runtime
    # exchange reuse proved shape-dependent and partial across the
    # dedup family, so the reuse is now explicit via persist.)
    df = entry.queries()["dedup_ngram_jaccard"](spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert final.count("InMemoryTableScan") >= 3, final


def test_minhash_pairs_signature_stage_cached(spark, sf_dir):
    # the signature stage (shingle explode + 64 min-aggs) feeds three
    # consumers; AQE reused only 1 of the duplicate exchanges at
    # runtime (partial, shape-dependent), so the stage is persisted —
    # all three consumers must read the cache. Pinned on the portable
    # pair query (dedup_minhash_pairs is now a recall certificate
    # whose plan unions in the ngram truth side).
    df = entry.queries()["dedup_minhash_portable"](spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert final.count("InMemoryTableScan") >= 3, final


def test_streaming_state_conf_restored(spark, sf_dir):
    # the stream's 8-partition state override lives on a cloned
    # session and must not leak into the caller's (which runs at a
    # different count here, so a leak shows)
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        entry.queries()["stream_tumbling_counts"](spark, sf_dir).collect()
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_connected_components_lineage_truncated(spark, sf_dir):
    # iterative label propagation references the labels frame twice
    # per round: without per-round lineage truncation the logical plan
    # doubles each iteration (measured: 23.5s analysis at sf0.1). The
    # returned frame must sit on a checkpointed (shallow) plan — a
    # LogicalRDD scan, not the full iterative lineage.
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a long, b long")
    out = connected_components(pairs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "Scan ExistingRDD" in plan, plan
    assert len(plan) < 5000, f"lineage not truncated ({len(plan)} chars)"


def test_pii_redact_no_shuffle(spark, sf_dir):
    # pure JVM regex projection: scan -> project, zero Exchange
    plan = _plan(spark, sf_dir, "text_pii_redact")
    assert "Exchange" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_unigram_surprise_corpus_side_broadcast_join(spark, sf_dir):
    # the vocab joins back to the exploded corpus via broadcast — the
    # corpus token stream must NOT shuffle for the join (only the
    # vocab build and the final per-doc agg exchange)
    plan = _plan(spark, sf_dir, "text_unigram_surprise")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_kmeans_centroids_broadcast(spark, sf_dir):
    # the declared query runs the Arrow matmul Lloyd: assignment is a
    # closure-broadcast numpy matmul inside MapInPandas — the plan must
    # carry the Arrow stage and NO join at all (neither broadcast nor
    # sort-merge: nothing n-sized ever joins the centroid table)
    plan = _plan(spark, sf_dir, "embedding_kmeans")
    assert "MapInPandas" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Join" not in plan, plan

    # the relational long-form twin keeps the broadcast-join shape
    from sycl_mapreduce_cpu_gpu_hybrid_spark.operators.kmeans import (
        kmeans_fixedpoint,
    )
    from sycl_mapreduce_cpu_gpu_hybrid_spark.sources.tables import load_table

    lf_plan = (
        kmeans_fixedpoint(load_table(spark, sf_dir, "embeddings"), k=4, iters=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in lf_plan, lf_plan
    assert "SortMergeJoin" not in lf_plan, lf_plan


def test_stratified_sample_no_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "corpus_sample_stratified")
    assert "Exchange" not in plan, plan


def test_merge_upsert_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "merge_upsert")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_funnel_single_input_shuffle(spark, sf_dir):
    # the three stage-time windows share one user_id partitioning:
    # exactly one Exchange feeds all three Window operators; the only
    # other Exchanges are the per-user rollup and the final 1-row agg
    plan = _plan(spark, sf_dir, "events_funnel")
    assert plan.count("Window") >= 3
    head = plan.split("Window", 1)[1]  # everything below the windows
    assert head.count("Exchange") <= 1, plan


def test_gapfill_span_is_broadcast(spark, sf_dir):
    # the 1-row span must reach the grid via broadcast, never a
    # row-proportional cross join
    plan = _plan(spark, sf_dir, "events_gapfill")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_transition_matrix_two_exchanges(spark, sf_dir):
    # one shuffle for the user window, one for the 5x5 pair count;
    # the p_e4 window re-uses the pair-count partitioning
    plan = _plan(spark, sf_dir, "events_transition_matrix")
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") <= 3, final


def test_runtime_bloom_filter_reaches_fact_scan(spark, sf_dir, read_floor):
    # the dim-side bloom filter must probe the fact side before the
    # shuffle: might_contain over the join key appears in the plan.
    # Only a shuffle join gets one, so this runs above the
    # one-partition read floor (sources.tables.read_parquet)
    with read_floor("1b"):
        plan = _plan(spark, sf_dir, "join_runtime_filtered")
    assert "might_contain" in plan, plan
    assert "bloom_filter_agg" in plan, plan
    # below it (sf0.001's sub-MiB tables) the join shuffles nothing
    tiny = _plan(spark, sf_dir, "join_runtime_filtered")
    assert "Exchange hashpartitioning" not in tiny, tiny


def test_tfidf_rle_stays_staged(spark, sf_dir):
    # the in-row RLE tf depends on array_sort/run-starts living in
    # their OWN Projects: lambdas get no common-subexpression
    # elimination, so if CollapseProject ever inlines the sorted
    # array into the Generate's zip_with, the sort re-evaluates per
    # element (measured 82.8s vs 0.91s for the bare tf frame at
    # sf0.1 — SCALING.md "Lambdas get no CSE"). Pin: no Generate line
    # may contain array_sort; the staged projections must exist.
    plan = _plan(spark, sf_dir, "text_tfidf_topterms")
    gen_lines = [ln for ln in plan.splitlines() if "Generate explode" in ln]
    assert gen_lines, plan
    assert all("array_sort" not in ln for ln in gen_lines), gen_lines
    assert "array_sort" in plan  # staged in a Project, not gone


def test_q3_reads_flat_layout_exchange_free(spark, sf_dir):
    # the v2 denormalized BUCKETED order-line layout removes every
    # join AND the aggregation exchange: segment + both date filters
    # push into the bucketed scan, the l_orderkey bucket clustering
    # satisfies the groupBy distribution, the top-k plans as
    # TakeOrderedAndProject — one stage, zero Exchange nodes
    plan = _plan(spark, sf_dir, "tpch_q3_priority")
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "orderline_flat" in plan, plan
    assert "Bucketed: true" in plan, plan
    # one bucket, so one scan task, per core slot
    n = spark.sparkContext.defaultParallelism
    assert f"SelectedBucketsCount: {n} out of {n}" in plan, plan


def test_q18_aggregates_on_bucket_clustering(spark, sf_dir):
    # the v3 layout carries l_quantity, so q18's full-fact HAVING
    # aggregate (the heaviest shuffle in a join-only plan) runs
    # partial+final directly on the bucketed scan: no shuffle
    # exchange anywhere in the plan — the only exchange is the
    # dimension broadcast (whichever side the planner sizes smaller)
    plan = _plan(spark, sf_dir, "tpch_q18_volume_customers")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Bucketed: true" in plan, plan
    assert "orderline_flat" in plan, plan
    n = spark.sparkContext.defaultParallelism
    assert f"SelectedBucketsCount: {n} out of {n}" in plan, plan


def test_pareto_distributed_tier_two_phase_prefix_sum(spark, sf_dir):
    # pareto_revenue's default (and only) plan is the two-phase prefix
    # sum: the full part-grain frame range-partitions and its running
    # sum windows PARTITION BY the range id — never an unpartitioned
    # WindowExec over the whole dimension (the r13 verdict's
    # single-task-sort flag). The only SinglePartition work left is
    # the per-range offsets frame, bounded at shuffle-partition count
    # (32 rows), one Exchange.
    plan = _plan(spark, sf_dir, "pareto_revenue")
    assert "_pid" in plan, plan
    assert "hashpartitioning(_pid" in plan, plan
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_unpartitioned_windows_are_audited():
    # Global-window audit (r13 verdict task 2 tail): every
    # `Window.orderBy(...)` with no partitionBy in the package must be
    # attributable to a budget-gated tier or a provably bounded frame
    # — an unaudited new site fails here and must either partition,
    # gate, or join this list with its boundedness argument.
    #
    #   operators/similarity.py  sample_centroids: window sits AFTER
    #       .limit(n_centroids) — frame bounded by the centroid count
    #       (contract-bounded collect class).
    #   queries/relational.py    _running_sum_distributed offsets
    #       (w_off / w_all): per-range totals frame, bounded at
    #       spark.sql.shuffle.partitions rows.
    #   queries/llm.py           corpus_mix_schedule quota remainder
    #       rank: frame is one row per LANGUAGE (bounded domain).
    #   queries/behavioral.py    orders_rfm local tier ntile windows:
    #       gated by within_budget(customer rows, RFM_NTILE_LOCAL_MAX).
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "sycl_mapreduce_cpu_gpu_hybrid_spark",
    )
    allowed = {
        ("operators/similarity.py", "sample_centroids"),
        ("queries/relational.py", "_running_sum_distributed"),
        ("queries/llm.py", "corpus_mix_schedule"),
        ("queries/behavioral.py", "orders_rfm"),
    }
    found = set()
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            src = open(path).read()
            cur_fn = None
            for line in src.splitlines():
                m = re.match(r"\s*def\s+(\w+)", line)
                if m:
                    cur_fn = m.group(1)
                if "Window.orderBy(" in line and "partitionBy" not in line:
                    # docstrings / comments mentioning the pattern
                    stripped = line.strip()
                    if stripped.startswith("#") or stripped.startswith(
                        ("to ``", '"', "'")
                    ):
                        continue
                    found.add((rel, cur_fn))
    assert found <= allowed, (
        f"unaudited unpartitioned Window sites: {found - allowed} — "
        f"partition them, budget-gate them, or extend this audit with "
        f"a boundedness argument"
    )
