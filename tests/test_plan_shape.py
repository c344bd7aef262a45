"""Physical-plan shape guards: the scale properties (predicate pushdown,
column pruning, broadcast dims, codegen) must survive refactors. These are
the properties the 100 TB design depends on — a plan that silently stops
pushing filters would still pass value checks on 60k rows."""

from __future__ import annotations

import re

import pytest

from compass_query_optimizer_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


def formatted_plan(spark, name: str) -> str:
    df = all_queries()[name].build(spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q01_scan_is_pruned_and_pushed(spark):
    plan = formatted_plan(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # pruned to exactly the 7 needed columns — no full-width scan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read and "l_returnflag" in read


def test_q05_dims_broadcast(spark):
    plan = formatted_plan(spark, "q05_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4  # all dims broadcast at this SF
    assert "EqualTo(r_name,ASIA)" in plan  # literal filter reached the scan
    assert "SortMergeJoin" not in plan


def test_q07_count_has_no_wide_columns(spark):
    plan = formatted_plan(spark, "q07_count_star_multijoin")
    # COUNT(*) multijoin must not read any non-key, non-predicate column
    read_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_lines and all("o_totalprice" not in l for l in read_lines)
    assert all("l_extendedprice" not in l for l in read_lines)


def test_whole_stage_codegen_present(spark):
    # AQE finalizes the plan only at execution; codegen spans appear there
    df = all_queries()["q01_pricing_summary"].build(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in final  # '*(n)' prefixes = whole-stage-codegen spans


@pytest.mark.parametrize(
    "name", ["dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_lsh"]
)
def test_lsh_joins_are_equijoins(spark, name):
    """Candidate generation must stay an equi-join (never a cartesian)."""
    plan = formatted_plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_verify_is_distributed(spark):
    """Exact Jaccard verification must be join-based: no Python eval stage
    (the round-1..3 design collected every gram set into a driver-built
    broadcast bitmap — driver OOM at scale)."""
    plan = formatted_plan(spark, "dedup_ngram_jaccard")
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonMapInArrow"):
        assert node not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_has_no_single_partition_exchange(spark):
    """Centroid sampling must not funnel the corpus through one task (the
    old global-Window row_number plan had Exchange SinglePartition)."""
    plan = formatted_plan(spark, "sim_ann_ivf")
    assert "SinglePartition" not in plan


def test_pack_sequences_window_is_partitioned(spark):
    """Packing must parallelize: the running-sum window partitions on the
    stream key, never a global (SinglePartition) window."""
    plan = formatted_plan(spark, "text_pack_sequences")
    assert "SinglePartition" not in plan
    assert "Window" in plan


def test_contamination_eval_side_broadcasts(spark):
    """The eval shingle set must broadcast: the corpus side is one scan +
    hash probe, with no shuffle of corpus shingles for the join itself
    (the only corpus exchange is the per-doc count aggregation)."""
    plan = formatted_plan(spark, "text_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin", "MapInPandas"):
        assert node not in plan


def test_repetition_aggregates_are_partial(spark):
    """The (doc_id, n, gram) count must map-side combine (HashAggregate
    partial_count before the exchange) — that combine is what collapses
    the very duplicates the metric measures."""
    plan = formatted_plan(spark, "text_repetition")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_kmeans_assign_combines_map_side(spark):
    """The N*K assign intermediate must never hit the shuffle: the argmin
    min(struct) aggregate needs a partial_min before the exchange, and the
    centroid side must be the broadcast side (no sort-merge join)."""
    plan = formatted_plan(spark, "emb_kmeans_iter")
    assert "partial_min" in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan


def test_quantize_has_single_scalar_shuffle(spark):
    """Global-scale quantization shuffles one scalar: the corpus scan joins
    a broadcast 1-row aggregate, never a sort-merge join, and all vector
    math stays JVM-side."""
    plan = formatted_plan(spark, "emb_quantize_int8")
    assert "BroadcastExchange" in plan or "broadcast" in plan.lower()
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_stratified_sample_no_shuffle_before_filter(spark):
    """Hash-based sampling is a projection+filter: no exchange except the
    final sort, no Python, no join."""
    plan = formatted_plan(spark, "text_stratified_sample")
    for node in ("Join", "MapInPandas", "BatchEvalPython"):
        assert node not in plan


def test_segment_dedup_window_is_keyed_and_python_free(spark):
    """Segment dedup shuffles on the segment hash (keyed window), never a
    global window, and stays entirely JVM-side."""
    plan = formatted_plan(spark, "text_segment_dedup")
    assert "SinglePartition" not in plan
    assert "Window" in plan
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan


def test_zipf_coverage_window_is_bounded_by_limit(spark):
    """The rank window runs AFTER TakeOrdered cut the candidate set to
    max(ZIPF_KS) rows — a global window is only acceptable because the
    limit bounds its input by construction."""
    plan = formatted_plan(spark, "text_zipf_coverage")
    assert "TakeOrderedAndProject" in plan
    limit_pos = plan.index("TakeOrderedAndProject")
    win_pos = plan.index("Window")
    # formatted plans print downstream operators first: the window node
    # must appear before (= consume) the TakeOrdered node
    assert win_pos < limit_pos


def test_semantic_dedup_assignment_is_linear(spark):
    """Round-6 fix: cell assignment is a per-row hyperplane sign code, not
    nearest-centroid over a broadcast centroid table — the round-5 version
    cross-joined the corpus against K = ceil(N/128) broadcast centroids,
    O(N²/128) distance evaluations with a build side that grew linearly
    with the corpus. The plan must contain NO cross/nested-loop join of
    any kind: every join is a keyed equi-join (vec_id or the cell id), so
    assignment cost is linear in N and nothing corpus-sized is built."""
    plan = formatted_plan(spark, "dedup_semantic")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_code_pass_combines_map_side(spark):
    """The plane-dot code pass must emit one skinny (vec, table, code)
    row per vector per table — round 11: the vectorized mapInPandas
    matmul."""
    plan = formatted_plan(spark, "dedup_semantic")
    assert "MapInPandas" in plan  # vectorized code pass


def test_sessionize_windows_are_user_keyed(spark):
    """Batch sessionization must parallelize by user: lag + running-sum
    windows partition on user_id, never a global (SinglePartition) window."""
    plan = formatted_plan(spark, "events_sessionize")
    assert "SinglePartition" not in plan
    assert "Window" in plan


def test_scd2_windows_are_doc_keyed(spark):
    """SCD2 history build: all three windows (lag/max/lead) partition on
    doc_id, and snapshot bodies reduce to md5 before any exchange — the
    shuffled payload is (doc_id, version, fp), never document text."""
    plan = formatted_plan(spark, "docs_scd2")
    assert "SinglePartition" not in plan
    # text only appears below the md5 projection, not in any exchange
    for line in plan.splitlines():
        if "Exchange" in line and "text" in line:
            raise AssertionError(f"document text crosses an exchange: {line}")


def test_train_split_is_one_scan_one_agg(spark):
    """Deterministic split assignment adds no join and no window — one
    pruned scan, map-side hash arithmetic, one keyed aggregate."""
    plan = formatted_plan(spark, "text_train_split")
    assert "Join" not in plan and "Window" not in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" not in read  # split hashes doc_id, never the body


def test_lm_perplexity_char_model_broadcasts(spark):
    """The char-unigram model (and its total) must broadcast back to the
    scoring scan — char-level rows never shuffle; the only exchanges carry
    per-doc partial averages and the tiny (lang, bucket) cells."""
    plan = formatted_plan(spark, "text_lm_perplexity")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_transitions_windows_are_user_keyed(spark):
    """The successor window partitions on user_id and the normalizing
    window runs over event-type² cells — no global window over events."""
    plan = formatted_plan(spark, "events_transitions")
    assert "Window" in plan


def test_dsir_models_broadcast(spark):
    """Both DSIR n-gram models (target + raw, 256 buckets each) and their
    totals must broadcast back to the scoring scan — bigram-level rows
    never shuffle; the keyed exchanges carry per-doc weight partials."""
    plan = formatted_plan(spark, "text_dsir_weights")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_gap_fill_windows_are_series_keyed(spark):
    """Gap filling parallelizes by series: the forward-fill carry window
    partitions on event_type, never a global (SinglePartition) window, and
    raw events reduce to (series, hour) aggregates before the grid join."""
    plan = formatted_plan(spark, "events_gap_fill")
    assert "SinglePartition" not in plan
    assert "Window" in plan


def test_winnowing_gram_pass_is_codegen_and_doc_keyed(spark):
    """The gram hash pass must be a codegen explode (a higher-order
    transform would interpret ~1.5k md5s per doc — measured 12x slower),
    the winnow window doc-keyed, and document text must never cross an
    exchange (rows project to (doc, pos, 48-bit hash) scan-side)."""
    plan = formatted_plan(spark, "text_winnowing")
    assert "SinglePartition" not in plan
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan
    for line in plan.splitlines():
        if "Exchange" in line and ("text" in line or " lt" in line):
            raise AssertionError(f"document text crosses an exchange: {line}")


def test_prefix_norm_is_one_scan_no_joins(spark):
    """The truncation audit is a scan + k-keyed aggregate: no join, no
    window, nothing corpus-sized ever built or broadcast."""
    plan = formatted_plan(spark, "emb_prefix_norm")
    assert "Join" not in plan and "Window" not in plan


def test_bloom_filter_build_side_is_bounded(spark):
    """The Bloom filter is a packed bitmap of sparse (word, bits) rows —
    ≤ cells/64 ≈ 512Ki rows (~4 MiB) at the 2^25-cell cap, regardless of
    corpus size — attached to the probes by a KEYED broadcast hash join on
    the word index. No cartesian product, no nested-loop join anywhere:
    the round-6 single-row-array crossJoin attach is gone along with the
    fixed width."""
    plan = formatted_plan(spark, "dedup_bloom")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "name",
    [
        "mm_frame_sample",
        "mm_payload_features",
        "mm_image_decode",
        "mm_audio_decode",
        "mm_video_frames",
        "mm_scene_change",
        "mm_audio_energy",
        "mm_phash_dedup",
        "pipeline_multimodal",
        "mm_bmp_decode",
        "mm_resize_roundtrip",
    ],
)
def test_mm_decode_payloads_stay_in_scan_stage(spark, name):
    """Media payload bytes are built and consumed (one mapInPandas) in
    the scan stage; every exchange downstream carries only the small
    feature rows — payload bytes must never shuffle."""
    plan = formatted_plan(spark, name)
    # the formatted plan's node details: "(n) Operator" then its fields
    nodes = [b for b in plan.split("\n\n") if re.match(r"\(\d+\) ", b)]
    assert sum(re.match(r"\(\d+\) MapInPandas\b", b) is not None for b in nodes) == 1
    exchanges = [b for b in nodes if re.match(r"\(\d+\) \w*Exchange\b", b)]
    for b in exchanges:
        if re.search(r"\bpayload#", b):
            raise AssertionError(f"payload bytes cross an exchange:\n{b}")


def test_pq_scoring_joins_codes_to_broadcast_tables(spark):
    """PQ-ADC's scale contract: sub-centroid and ADC tables BROADCAST
    (M*K and queries*M*K rows), the corpus side never joins vector to
    vector, and encode is the vectorized Arrow argmin (round 11: one
    mapInPandas scoring all M subspaces per chunk), never the N·M·K
    broadcast-join lambda expansion or a per-(vector, subspace) sort
    window."""
    plan = formatted_plan(spark, "sim_ann_pq")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # ADC-build + score
    assert "MapInPandas" in plan  # vectorized PQ encode
    assert "SortAggregate" not in plan


def test_kl_drift_joins_only_observed_pairs(spark):
    """KL drift must never materialize the slice x vocabulary cross join:
    the only nested-loop joins are broadcasts of the 1-row scalar
    aggregate (n_total, V, S_all), and the (lang, token) aggregates
    combine map-side."""
    plan = formatted_plan(spark, "text_kl_drift")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan  # token aggs combine before the shuffle
    # the lang-keyed join of observed pairs is a hash join, not a loop join
    assert "BroadcastHashJoin" in plan


def test_hash_classifier_weights_broadcast(spark):
    """The bucket->weight table must broadcast (a trained model's weight
    vector ships the same way); token rows never shuffle by weight, and
    no Python stage appears — scoring is pure codegen."""
    plan = formatted_plan(spark, "text_hash_classifier")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan


def test_pipeline_pretrain_exchanges_are_body_free(spark):
    """The composed pretraining pipeline's scale contract: bodies reduce
    scan-side (md5 fingerprint, shingle hits), every exchange carries ids
    and counters; the eval shingle set broadcasts; no Python stage."""
    plan = formatted_plan(spark, "pipeline_pretrain")
    for line in plan.splitlines():
        if "Exchange" in line and "text" in line:
            raise AssertionError(f"document text crosses an exchange: {line}")
    assert "BroadcastHashJoin" in plan  # eval shingle probe
    for node in ("CartesianProduct", "MapInPandas", "BatchEvalPython"):
        assert node not in plan


def test_ivfpq_assign_and_encode_combine_map_side(spark):
    """IVFADC's scale contract: the corpus pass is ONE fused mapInPandas
    (round 12: coarse argmin + residual PQ encode in the same batch
    loop — the N-row residual payload never exists as a DataFrame and
    the N·M·PQ_K broadcast-join expansion is gone), and scoring joins
    codes to broadcast lookup tables — no vector-to-vector join."""
    plan = formatted_plan(spark, "sim_ann_ivfpq")
    assert "MapInPandas" in plan  # fused assign+encode
    # the N·M posexplode feeds only the PQ_K-row sampled codebook build
    # now, never a corpus-sized expansion with a sort
    assert "SortAggregate" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


# ----------------------------------------------------------- round-8 locks
def test_attribution_is_one_user_keyed_window_pass(spark):
    """Both attribution models must come from carry-forward windows over
    ONE user-partitioned sort — no per-conversion lookup join, no
    self-join of events against events."""
    plan = formatted_plan(spark, "events_attribution")
    assert "hashpartitioning(user_id" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "last(" in plan and "first(" in plan


def test_qualify_lowers_to_window_filter_not_argmax_join(spark):
    plan = formatted_plan(spark, "q38_qualify")
    assert "row_number" in plan
    # the one order/customer equi-join (formatted mode lists each node in
    # the tree AND a detail section, hence == 2) and no argmax self-join
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan and "NestedLoopJoin" not in plan
    assert "hashpartitioning(o_custkey" in plan


def test_random_projection_never_explodes(spark):
    """The 64×16 projection must stay inside zip_with aggregates — a
    Generate (explode) node would mean 16× the rows cross the plan."""
    plan = formatted_plan(spark, "emb_random_projection")
    assert "Generate" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_dataset_fingerprint_is_one_scan_one_expand(spark):
    """ROLLUP = one Expand + hash aggregate over the single scan; the
    shuffle carries (source)-sized partials, never documents."""
    plan = formatted_plan(spark, "docs_dataset_fingerprint")
    # ONE scan node (formatted mode prints tree + detail → 2 mentions)
    assert plan.count("Scan parquet") == 2
    assert "Expand" in plan
    assert "SortMergeJoin" not in plan


def test_gopher_rules_single_scan_pure_codegen(spark):
    """The whole rule battery is one scan of codegen expressions — no
    Python workers, no joins, one langs-sized aggregate exchange."""
    plan = formatted_plan(spark, "text_gopher_rules")
    # ONE scan node (formatted mode prints tree + detail → 2 mentions)
    assert plan.count("Scan parquet") == 2
    assert "Python" not in plan and "Join" not in plan


def test_bitmap_distinct_rides_as_fixed_words(spark):
    """The bitmap carrier must appear as bit_or partial aggregates — no
    collect_set anywhere in the chain."""
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.plans.queries import GROUPED_COUNT_SQL

    opt = CompassOptimizer(spark)
    plan_obj = opt.plan(GROUPED_COUNT_SQL, SF)
    df = opt.build_count_join(
        plan_obj, measures=[("c", "c_nationkey", "count_distinct_auto")]
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "bit_or" in plan and "collect_set" not in plan
    assert plan_obj.extras["distinct_route"]["route"] == "count_distinct_bitmap"


def test_left_outer_eager_chain_collapses_before_null_extension(spark):
    """The outer side must arrive at the LEFT OUTER join already collapsed
    to (key -> cnt, Σ) partial aggregates — join rows never materialize —
    and the outer alias must sit at the tail of the enforced order."""
    from compass_query_optimizer_spark.plans.optimizer import CompassOptimizer
    from compass_query_optimizer_spark.plans.queries import LEFT_OUTER_SQL

    opt = CompassOptimizer(spark)
    plan_obj = opt.plan(LEFT_OUTER_SQL, SF, outer={"o"})
    assert plan_obj.search.order[-1] == "o"
    df = opt.build_count_join(plan_obj, measures=[("o", "o_totalprice", "sum")])
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "LeftOuter" in plan
    # the measure table's collapse runs as a partial (map-side) aggregate
    assert "partial_sum" in plan and "partial_count" in plan
    # the chain never falls back to a cartesian or a raw-row outer join
    assert "CartesianProduct" not in plan


def test_substring_spans_is_two_keyed_shuffles_no_pairs(spark):
    """The duplicate-span score must stay an inverted-index plan: window
    construction lives in the scan stage (generate over the token array),
    and the only joins are the window-hash equi-join back to counts —
    never a doc×doc pair step."""
    plan = formatted_plan(spark, "dedup_substring_spans")
    assert "CartesianProduct" not in plan and "Python" not in plan
    assert "Generate" in plan  # explode of the per-doc window array
    # the fact table scans once per side of the count join, not per pair
    assert plan.count("Scan parquet") <= 4


def test_pivot_is_one_aggregate_no_discovery_job(spark):
    """Declared pivot values must compile to a single hash aggregate with
    conditional counts — no second scan to discover the pivot domain."""
    plan = formatted_plan(spark, "q41_pivot")
    assert plan.count("Scan parquet") == 2  # tree + detail of ONE scan
    assert "Join" not in plan


def test_multi_measure_chain_scans_each_table_once(spark):
    """SUM + MIN + MAX + COUNT must ride ONE chain: each base table enters
    exactly once, as a parquet scan or — spliced from the push-down's
    collected keys — as a LocalTableScan (formatted mode prints tree +
    detail → 2 mentions each), with all three partial aggregate kinds in
    the same plan — never a chain per measure joined at the end."""
    plan = formatted_plan(spark, "compass_multi_measure")
    # 4 tables × (tree + detail)
    assert plan.count("Scan parquet") + plan.count("LocalTableScan") == 8
    assert "partial_sum" in plan
    assert "partial_min" in plan and "partial_max" in plan


def test_pq_distortion_combines_map_side_with_broadcast_codebook(spark):
    """The distortion audit must reuse the encode pass's shape: sub-codebook
    broadcast, arg-min as a partial (map-side) aggregate — never a
    vector×vector join or a sort."""
    plan = formatted_plan(spark, "emb_pq_distortion")
    assert "partial_min" in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_prunes_to_id_and_text(spark):
    """tf-idf must scan only (doc_id, text) — reading lang/source/n_chars
    for a keyword extraction is a 100 TB-scale waste — and candidate
    scoring must stay keyed joins, never a cartesian."""
    plan = formatted_plan(spark, "text_tfidf_keywords")
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads and all("source" not in l and "n_chars" not in l for l in reads)
    assert "CartesianProduct" not in plan


def test_bm25_broadcasts_query_side(spark):
    """BM25 more-like-this: the seed document's term list, the df table,
    and the corpus scalars are broadcast-size — they must ship as
    broadcasts, and the posting join must be an equi-join."""
    plan = formatted_plan(spark, "text_bm25_mlt")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # final top-20 must be a TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_triangle_count_stays_equijoined_and_pruned(spark):
    """The wedge and closing joins are equi-joins on (center) and (b, c);
    a cartesian here would be the all-pairs blowup the degree orientation
    exists to prevent. Scan reads only the graph-relevant columns."""
    plan = formatted_plan(spark, "events_triangle_count")
    assert "CartesianProduct" not in plan
    # the oriented edge table is checkpointed once and reused by the wedge,
    # closing, and degree joins — the final plan must read the checkpoint,
    # never re-derive edges from parquet
    assert "Scan parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_pagerank_iterations_reuse_checkpointed_edges(spark):
    """Each PageRank iteration must consume the checkpointed edge RDD, not
    re-derive edges from the parquet scan (3 iterations × an hour-bucket
    self-join would triple the most expensive stage)."""
    plan = formatted_plan(spark, "events_pagerank")
    assert "CartesianProduct" not in plan
    # edges materialized once: the final plan sees scans of the
    # checkpointed RDD, not repeated parquet scans of events
    assert plan.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in plan


def test_davies_bouldin_is_combiner_agg_then_tiny_joins(spark):
    """The only corpus-sized work is the (label, dim) moment aggregate —
    it must combine map-side; everything downstream is labels²-sized and
    the label joins broadcast."""
    plan = formatted_plan(spark, "emb_davies_bouldin")
    assert "partial_sum" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_window_surface_entries_are_single_scan(spark):
    """q45/q46 are one-pass window plans: a single parquet scan feeding a
    Window node — no self-join reformulation."""
    for name in ("q45_window_distinct_count", "q46_ignore_nulls_fill"):
        plan = formatted_plan(spark, name)
        # formatted explain prints each node twice (tree + detail block),
        # so ONE scan node == two string hits
        assert plan.count("Scan parquet") == 2, name
        assert "Window" in plan, name
        assert "Join" not in plan, name


def test_containment_verify_runs_on_checkpointed_pairs(spark):
    """Containment dedup follows the jaccard pattern: candidates and
    intersect counts materialize once (checkpoint), so the final plan is a
    filter over the narrow pair table — no replayed candidate join, no
    cartesian anywhere."""
    plan = formatted_plan(spark, "dedup_containment")
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_knn_graph_is_code_equijoin(spark):
    """The k-NN graph's candidate generation must be an equi-join on the
    LSH code — a cartesian here is the all-pairs blowup the auto-width
    exists to prevent — and ranking must stay a per-vector window."""
    plan = formatted_plan(spark, "emb_knn_graph")
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_unpivot_lowers_to_expand_single_scan(spark):
    """UNPIVOT must lower to ONE scan + an Expand node (rows×3), never a
    union of three scans or a join."""
    plan = formatted_plan(spark, "q47_unpivot")
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 2  # one node: tree + detail block
    assert "Union" not in plan and "Join" not in plan


def test_hybrid_rrf_legs_are_takeordered(spark):
    """Both retrieval legs must cut to HYBRID_LIST via TakeOrdered before
    any rank window — a corpus-wide sort here would defeat the fusion's
    whole cost model."""
    plan = formatted_plan(spark, "sim_hybrid_rrf")
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan


def test_ab_test_is_one_combiner_rollup(spark):
    """The z-test must reduce the corpus with partial aggregation (user
    rollup combines map-side) and never join or sort the event stream."""
    plan = formatted_plan(spark, "events_ab_test")
    assert "partial_" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_t_closeness_distance_work_is_class_sized(spark):
    """The only corpus-sized work is the (class, lang) combiner aggregate;
    the distribution tables ship as broadcasts and the TVD computation
    touches classes × |langs| rows."""
    plan = formatted_plan(spark, "privacy_t_closeness")
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_ann_incremental_probes_checkpointed_index(spark):
    """Arrival probes must consume the checkpointed standing index, not
    rebuild it inside their own plan; probing stays an equi-join on the
    cell id."""
    plan = formatted_plan(spark, "sim_ann_incremental")
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_ann_incremental_standing_fold_is_vectorized_assign(spark):
    """The corpus-sized standing fold assigns cells through ONE
    vectorized mapInPandas (round 11: the N×K distance work is a BLAS
    matmul per Arrow chunk, not N·K Catalyst lambda evaluations) —
    never a per-vector row_number window (sort exchange of all N×K rows,
    round-8 verdict nit), never min(struct(...)) (non-primitive buffer →
    SortAggregate), and never a JVM cross-join expansion of the corpus
    against the centroid table."""
    from compass_query_optimizer_spark.operators.similarity import (
        incremental_standing_parts,
    )

    _, members = incremental_standing_parts(spark, SF)
    plan = members._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "MapInPandas" in plan
    assert "Window" not in plan
    assert "SortAggregate" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
