"""Physical-plan discipline: the scale rules from SURVEY.md section 4
are enforced, not aspirational -- dim joins broadcast, selective
filters reach the parquet scan, hot paths stay Python-free."""

from __future__ import annotations

import pytest

from etl_onprem_to_cloud_spark.plans import (
    explain_str,
    has_broadcast_join,
    has_python_udf,
    pushed_filters,
    shuffle_count,
)
from etl_onprem_to_cloud_spark.queries import QUERIES

def _plans(build, monkeypatch):
    """``[(df, shuffles)]``: the DataFrame ``build()`` returns and then
    the input of every ``localCheckpoint`` the build made, each with its
    :func:`shuffle_count`.  A cut's consumers plan only a scan of its
    stored rows, so a guard that reads the final plan alone misses
    every subtree behind a cut.  An input is counted before its cut
    runs it: an executed adaptive plan prints its final and its initial
    plan, which would count each exchange twice."""
    from pyspark.sql.classic.dataframe import DataFrame

    cut_inputs = []
    real = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        cut_inputs.append((self, shuffle_count(self)))
        return real(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "localCheckpoint", recording)
        df = build()
    return [(df, shuffle_count(df))] + cut_inputs


def _query_plans(name, spark, sf_dir, monkeypatch):
    return _plans(lambda: QUERIES[name].fn(spark, sf_dir), monkeypatch)


#: Loop queries whose shuffle bound was set on the final plan, after
#: their lineage cuts: summed over the cut inputs they would need new
#: numbers (sf0.001, final -> summed: bellman_ford 0 -> 12, lpa 7 -> 17,
#: entity_resolution 5 -> 16, hierarchy 5 -> 13, adamic_adar 5 -> 9,
#: degree_powerlaw 1 -> 4, markov_removal 1 -> 3, conversion_latency
#: 4 -> 6).  Every other bound counts the final plan plus every cut
#: input; the Python and cartesian checks read every plan for all.
FINAL_PLAN_BOUNDS = frozenset({
    "q_adamic_adar_linkpred", "q_bellman_ford_cheapest",
    "q_conversion_latency", "q_degree_powerlaw_alpha",
    "q_entity_resolution_parts", "q_hierarchy_revenue_rollup",
    "q_lpa_communities", "q_markov_removal_attribution",
})


def _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch):
    """The shared plan-shape guard: at most ``max_shuffles`` exchanges,
    and no Python UDF and no cartesian product in the final plan or in
    any cut input.  Returns the plans for a caller's extra checks."""
    plans = _query_plans(name, spark, sf_dir, monkeypatch)
    if name in FINAL_PLAN_BOUNDS:
        shuffles = plans[0][1]
    else:
        shuffles = sum(n for _, n in plans)
    assert shuffles <= max_shuffles
    for d, _ in plans:
        assert not has_python_udf(d)
        assert "CartesianProduct" not in explain_str(d, "simple")
    return plans


PYTHON_FREE = [
    n
    for n, s in QUERIES.items()
    if "pandas-udf" not in s.tags  # the decode stub is mapInPandas by design
]


def test_q05_broadcasts_dims(spark, sf_dir):
    df = QUERIES["q05_local_supplier_volume"].fn(spark, sf_dir)
    assert has_broadcast_join(df)


def test_q06_filters_pushed_to_scan(spark, sf_dir):
    df = QUERIES["q06_forecast_revenue"].fn(spark, sf_dir)
    pushed = pushed_filters(df)
    joined = ";".join(pushed)
    # quantity + discount + shipdate predicates must reach the source
    assert "l_quantity" in joined and "l_discount" in joined


def test_scan_prunes_columns(spark, sf_dir):
    df = QUERIES["q06_forecast_revenue"].fn(spark, sf_dir)
    plan = explain_str(df)
    # ReadSchema must not include unused wide columns
    assert "l_comment" not in plan
    assert "l_returnflag" not in plan.split("ReadSchema")[-1]


@pytest.mark.parametrize("name", ["q01_pricing_summary", "q_text_stats",
                                  "q_dedup_minhash_lsh", "q_dedup_containment"])
def test_hot_paths_have_no_python_udf(name, spark, sf_dir, monkeypatch):
    for d, _ in _query_plans(name, spark, sf_dir, monkeypatch):
        assert not has_python_udf(d), f"{name} plan contains a Python UDF"


@pytest.mark.parametrize("name", ["q_ann_brute_force_topk", "q_knn_label_vote"])
def test_brute_force_cosine_is_arrow_batched(name, spark, sf_dir):
    """The brute-force scorer's default engine is the vectorized numpy
    cosine (same sanctioned escape as the SRP verify step): Arrow-
    batched only, never row-at-a-time Python."""
    from etl_onprem_to_cloud_spark.plans.checks import explain_str

    df = QUERIES[name].fn(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "BatchEvalPython" not in plan, "row-at-a-time Python UDF on hot path"
    assert "ArrowEvalPython" in plan
    assert "CartesianProduct" not in plan


def test_brute_force_expr_twin_stays_jvm_side(spark, sf_dir):
    from etl_onprem_to_cloud_spark.llm.similarity import brute_force_top_k
    from etl_onprem_to_cloud_spark.sources.io import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    df = brute_force_top_k(emb, [0, 1, 2], k=5, engine="expr")
    assert not has_python_udf(df)


def test_q01_single_shuffle(spark, sf_dir):
    # Scan -> partial agg -> exchange -> final agg: exactly one shuffle.
    df = QUERIES["q01_pricing_summary"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1


def test_global_topk_avoids_full_sort(spark, sf_dir):
    df = QUERIES["q_topk_orders_global"].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in explain_str(df)


@pytest.mark.parametrize(
    "name", ["q02_min_cost_supplier", "q08_market_share", "q09_product_type_profit"]
)
def test_tpch2_dim_joins_broadcast(name, spark, sf_dir):
    df = QUERIES[name].fn(spark, sf_dir)
    assert has_broadcast_join(df), f"{name}: dim joins should broadcast"


def test_asof_join_single_shuffle(spark, sf_dir):
    # union + window carry-forward must cost exactly one keyed shuffle;
    # a range-join formulation would show a nested-loop/cartesian here.
    df = QUERIES["q_asof_join_click_attribution"].fn(spark, sf_dir)
    plan = explain_str(df, mode="simple")
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert shuffle_count(df) == 1


def test_q19_filter_pushed(spark, sf_dir):
    # the disjunction is on (part x lineitem) columns; the lineitem scan
    # still gets the derived l_quantity range bounds pushed? No -- the OR
    # spans tables, so only prune/pushdown per branch is impossible; we
    # assert the join stays broadcast instead of shuffling the fact side.
    df = QUERIES["q19_disjunctive_predicates"].fn(spark, sf_dir)
    assert has_broadcast_join(df)


def test_quality_gate_is_shuffle_free(spark, sf_dir, monkeypatch):
    """The composite gate must stay one codegen projection: no exchange,
    no Python eval."""
    _check_plan_shape("q_text_quality_gate", 0, spark, sf_dir, monkeypatch)


def test_split_assignment_is_shuffle_free(spark, sf_dir, monkeypatch):
    _check_plan_shape("q_split_train_val_test", 0, spark, sf_dir, monkeypatch)


def test_pack_contexts_single_window_shuffle(spark, sf_dir):
    """Packing = one window keyed on source: exactly one hash/range
    exchange pair at most (window sort may add a range partition only
    if a global sort sneaks in -- it must not)."""
    df = QUERIES["q_pack_contexts"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, "one shuffle on the partition column"


def test_srp_vectorized_projection_and_bounded_shuffles(spark, sf_dir, monkeypatch):
    """SRP-LSH's projection is the sanctioned vectorized escape: Arrow-
    batched pandas UDFs (the numpy matmul), never row-at-a-time Python;
    shuffles are the candidate join + verify joins, not a cross
    product.  Checked over the final plan and the checkpointed bucket
    relation's input, where the projection runs."""
    plans = [
        explain_str(d, "simple")
        for d, _ in _query_plans("q_srp_near_dup_pairs", spark, sf_dir, monkeypatch)
    ]
    assert not any("BatchEvalPython" in p for p in plans), "row-at-a-time UDF"
    assert any("ArrowEvalPython" in p for p in plans)
    assert not any("CartesianProduct" in p for p in plans)
    assert not any("BroadcastNestedLoopJoin" in p for p in plans)


def test_srp_expr_twin_stays_jvm_side(spark, sf_dir, monkeypatch):
    """The differential twin (projection='expr') must remain fully
    codegen'd -- it is the no-Python reference the pandas path is
    checked against.  The projection runs in the bucket cut's input."""
    from etl_onprem_to_cloud_spark.llm.similarity import srp_near_dup_pairs
    from etl_onprem_to_cloud_spark.sources.io import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    plans = _plans(
        lambda: srp_near_dup_pairs(emb, dim=64, projection="expr"), monkeypatch
    )
    assert len(plans) > 1
    for d, _ in plans:
        assert not has_python_udf(d)


@pytest.mark.parametrize("name,max_shuffles", [
    ("q_events_funnel", 5),
    ("q_events_retention_cohorts", 3),
    ("q_dedup_keep_best_quality", 1),
    ("q_incremental_rollup_merge", 3),
    ("q_skew_salted_agg", 2),
    ("q_multimodal_audio_chunks", 0),
])
def test_new_queries_bounded_shuffles_no_udf(
    name, max_shuffles, spark, sf_dir, monkeypatch
):
    for d, _ in _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch):
        assert "BroadcastNestedLoopJoin" not in explain_str(d, "simple")


@pytest.mark.parametrize("name,max_shuffles", [
    # q_embedding_quantize_int8: pure per-row array exprs; the only
    # exchange is the final ORDER BY's range partition.
    ("q_embedding_quantize_int8", 1),
    # q_vocab_coverage: token-count agg + the global rank window (the
    # corpus total rides in as a 1-row broadcast).
    ("q_vocab_coverage", 3),
    # q_multimodal_ppm_decode appears via the pandas-udf tag exclusion
    # below -- its decode IS the sanctioned mapInPandas escape.
])
def test_r3_queries_bounded_shuffles_no_udf(
    name, max_shuffles, spark, sf_dir, monkeypatch
):
    _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch)


@pytest.mark.parametrize("name,max_shuffles,scalar_bcast", [
    # chunk rewrite: window on chunk + rebuild groupBy on doc_id
    # (+ the final ORDER BY range partition).
    ("q_dedup_chunk_rewrite", 3, False),
    # MAD gate: events is scanned for med, dev-for-mad, and the final
    # agg (5 exchanges on the bounded event_type key); per-type stats
    # ride back as broadcasts, never a wide join.
    ("q_events_value_outliers_mad", 5, False),
    # rebalance: per-lang counts + the rank window (+ final order);
    # the min-count target is a sanctioned 1-row broadcast.
    ("q_lang_rebalance", 4, True),
    # BM25: ONE corpus-stats agg riding back as a 1-row broadcast;
    # top-k must be TakeOrdered, no wide sort.
    ("q_bm25_search", 1, True),
    # lerp: agg + spans + grid join + key windows share partitioning.
    ("q_resample_hourly_lerp", 5, False),
    # salted join: salt agg + dim agg + final agg.
    ("q_skew_salted_join", 4, False),
    # first-touch growth: user-id agg, per-day agg, single-partition
    # running sum over ~days rows, final order.
    ("q_cumulative_new_users", 4, False),
    # co-occurrence: user-id agg + pair agg + 1-row total broadcast.
    ("q_event_type_cooccurrence", 4, True),
    # zipf: token agg + vocab-sized rank window + 1-row sums.
    ("q_zipf_slope", 4, False),
])
def test_curation_queries_bounded_shuffles_no_udf(
    name, max_shuffles, scalar_bcast, spark, sf_dir, monkeypatch
):
    plans = _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch)
    if not scalar_bcast:
        # For the scalar-broadcast queries a BroadcastNestedLoopJoin IS
        # the expected shape: the build side is one aggregated row.
        for d, _ in plans:
            assert "BroadcastNestedLoopJoin" not in explain_str(d, "simple")


def test_bm25_uses_take_ordered(spark, sf_dir):
    df = QUERIES["q_bm25_search"].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in explain_str(df)


def test_knn_vote_broadcasts_labels(spark, sf_dir):
    df = QUERIES["q_knn_label_vote"].fn(spark, sf_dir)
    assert has_broadcast_join(df)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan


def test_bloom_semi_join_prunes_before_join(spark, sf_dir):
    """The Bloom bitset predicate must sit on the big side BELOW the
    join (that is its whole point), and the only shuffle is the final
    aggregate -- the join itself broadcasts the small side."""
    df = QUERIES["q_bloom_semi_join_reduction"].fn(spark, sf_dir)
    assert has_broadcast_join(df)
    assert shuffle_count(df) == 1
    plan = explain_str(df, "simple")
    join_pos = plan.index("BroadcastHashJoin")
    assert "bloom0" in plan[join_pos:], "bitset filter missing from big side"


@pytest.mark.parametrize("name,max_shuffles", [
    # q_cms_heavy_hitters, q_psi_price_drift and
    # q_resample_match_uniform_length each broadcast a ONE-ROW grand
    # total as a conditionless join (BroadcastNestedLoopJoin with a
    # 1-row build side -- the intended scalar-fanout pattern, not an
    # accidental cartesian), so only CartesianProduct is banned here.
    ("q_cms_heavy_hitters", 4),
    ("q_token_entropy_docs", 3),
    ("q_psi_price_drift", 2),
    ("q_winsorized_price_stats", 2),
    ("q_resample_match_uniform_length", 5),
])
def test_r04_queries_bounded_shuffles_no_udf(
    name, max_shuffles, spark, sf_dir, monkeypatch
):
    _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch)


@pytest.mark.parametrize("name,max_shuffles", [
    # q_repeated_spans: span count agg + the rank window.
    ("q_repeated_spans", 2),
    # q_span_doc_coverage: span agg, semi-join, distinct, per-doc agg,
    # final left join.
    ("q_span_doc_coverage", 5),
    # q_bigram_pmi: two count aggs, two unigram joins, rank window; the
    # corpus totals ride in as a 1-row BroadcastNestedLoopJoin (the
    # intended scalar-fanout pattern), so only CartesianProduct is
    # banned.
    ("q_bigram_pmi", 5),
    # q_bigram_lm_logprob: bigram-count agg, two vocab joins, per-doc
    # agg, final left join; vocab size is a 1-row broadcast.
    ("q_bigram_lm_logprob", 5),
    # End-to-end prep pipeline: the exact-dedup window on the md5 key,
    # the rollup, the final orderBy.  The quality gate, repetition
    # included, is an in-row filter and adds none.
    ("q_training_data_pipeline", 3),
    # q_embedding_outliers: exploded (label, idx) centroid agg, the
    # rejoin, per-vec agg, label-norm join.
    ("q_embedding_outliers", 5),
    # q_dedup_containment: shingle spread + self-join + pair agg + two
    # size joins, each direction of the union sharing the plan.
    ("q_dedup_containment", 8),
    # q_cross_source_dup_matrix: the LSH pair pipeline + two source
    # joins + the final rollup.  The r7 count-carry verify trades the
    # old 6-exchange array-attach shape (two joins carrying full
    # shingle arrays onto pair rows -- 46 GB of sf100 spill) for more
    # but SKINNY exchanges: candidate-id semi-join prune, two
    # posting-key joins, the grouped collision count -- every one of
    # them pair- or pruned-posting-sized, none carrying arrays.  Node
    # count went up; bytes-through-exchange collapsed (see the README
    # sf100 table).  Budget = the measured count of the new shape
    # (incl. the checkpointed cand relation's input plan -- exc is
    # INTENTIONALLY not cut, caching the posting stream measured as a
    # regression at sf100, native 0.65 -> 0.76; cuts save EXECUTIONS,
    # not plan nodes).  The count alone has ~4x headroom over the old
    # shape, so the regression actually feared -- arrays reattached to
    # pair rows -- is asserted separately by
    # test_count_carry_exchanges_are_array_free below.
    ("q_cross_source_dup_matrix", 23),
    # q_curation_blend: the LM pipeline + the lm join + two rank
    # windows over the source partition (windows share the exchange).
    ("q_curation_blend", 8),
    # q_rolling_24h_active_users: (hour,user) dedup, the contribution
    # explode's distinct-hour semi-join, the count_distinct rollup.
    ("q_rolling_24h_active_users", 5),
    # q_gdpr_purge_audit: broadcast anti-join + two event_type rollups.
    ("q_gdpr_purge_audit", 4),
])
def test_r05_span_queries_bounded_shuffles_no_udf(
    name, max_shuffles, spark, sf_dir, monkeypatch
):
    _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch)


@pytest.mark.parametrize("name,allowed", [
    ("q_dedup_minhash_lsh", frozenset()),
    # The twin's candidate GENERATION is stock MLlib: approxSimilarityJoin
    # shuffles its datasetA/datasetB structs whose VectorUDT fields
    # (features = the sparse shingle vector, hashes) contain arrays --
    # the inherent MLlib-compatibility cost this twin exists to expose,
    # and the reason the native path is designated production past the
    # 2^30 cap.  The VERIFY must stay array-free: any NEW name here
    # (a shingle array, a collect_set) is the r7 regression.
    ("q_ml_minhash_lsh_pairs", frozenset({
        "Exchange:datasetA", "Exchange:datasetB", "BroadcastExchange:datasetB",
    })),
    ("q_dedup_clusters", frozenset()),
    ("q_dedup_ngram_jaccard_blocked", frozenset()),
    ("q_cross_source_dup_matrix", frozenset()),
    # Beyond the count-carry family: the other corpus-pair dedup paths
    # whose incidence/verify streams must also stay scalar-only.
    ("q_dedup_containment", frozenset()),
    ("q_dedup_ngram_jaccard", frozenset()),
    ("q_dedup_exact_keep", frozenset()),
    # Its SRP candidate generation, seen through the cut inputs, moves
    # the vectors exactly as q_srp_near_dup_pairs does (the corpus
    # spread, the bucket join's build side); the connected-components
    # rounds after it must stay scalar-only.
    ("q_semantic_dedup_clusters", frozenset({
        "Exchange:embedding", "BroadcastExchange:__v",
    })),
])
def test_count_carry_exchanges_are_array_free(
    name, allowed, spark, sf_dir, monkeypatch
):
    """The shape invariant behind the count-carry verify (VERDICT r7
    item 4): NO exchange anywhere in these plans -- including the
    inputs of checkpointed cuts, subqueries, and struct-nested payloads --
    may carry an array-typed column beyond the explicit per-query
    allowlist.  The exchange-count budgets above have headroom by
    design (skinny exchanges are cheap); this is the test that fails
    if anyone reattaches shingle arrays to pair rows, the exact
    regression that cost 46 GB of sf100 spill (native) and a
    48 GB-heap hash-build OOM (MLlib twin) in round 7, regardless of
    exchange arithmetic."""
    from etl_onprem_to_cloud_spark.plans import array_typed_exchanges

    plans = _query_plans(name, spark, sf_dir, monkeypatch)
    assert {a for d, _ in plans for a in array_typed_exchanges(d)} <= allowed


def test_array_typed_exchanges_positive_controls(spark):
    """The guard itself must SEE the shapes it guards against, or the
    five green assertions above are vacuous: a bare array exchange, an
    array smuggled inside a struct, and an array exchange hidden in a
    scalar subquery must all be flagged; a scalar-only shuffle must
    not."""
    from pyspark.sql import functions as F

    from etl_onprem_to_cloud_spark.plans import array_typed_exchanges

    df = spark.range(10).withColumn("arr", F.array(F.col("id"), F.col("id") + 1))

    bare = df.repartition(4, "id")
    assert array_typed_exchanges(bare) == ["Exchange:arr"]

    wrapped = df.select("id", F.struct("arr").alias("s")).repartition(4, "id")
    assert array_typed_exchanges(wrapped) == ["Exchange:s"]

    df.createOrReplaceTempView("__arr_probe")
    sub = spark.sql(
        "select id from __arr_probe where id > "
        "(select count(*) - 8 from (select arr from __arr_probe group by arr))"
    )
    assert any(a.endswith(":arr") for a in array_typed_exchanges(sub))

    clean = df.select("id").repartition(4, "id")
    assert array_typed_exchanges(clean) == []


def test_q01_map_side_combine_measured(spark, sf_dir):
    """Not just 'one exchange' in the plan -- the executed metrics must
    show the partial aggregation actually collapsed the shuffle: records
    through the exchange are a tiny fraction of scanned rows, and
    nothing spilled."""
    from etl_onprem_to_cloud_spark.plans import execution_metrics

    df = QUERIES["q01_pricing_summary"].fn(spark, sf_dir)
    m = execution_metrics(df)
    assert m["scan_output_rows"] > 0
    assert m["spill_bytes"] == 0
    assert m["shuffle_records_written"] < m["scan_output_rows"] / 10, (
        "map-side combine missing: shuffle carries near-raw row counts"
    )


def test_broadcast_join_moves_no_fact_shuffle(spark, sf_dir):
    """q05's star joins broadcast the dims: the only shuffled records
    belong to the final aggregation, not the fact table."""
    from etl_onprem_to_cloud_spark.plans import execution_metrics

    df = QUERIES["q05_local_supplier_volume"].fn(spark, sf_dir)
    m = execution_metrics(df)
    assert m["spill_bytes"] == 0
    assert m["shuffle_records_written"] < m["scan_output_rows"] / 10


@pytest.mark.parametrize("name,max_shuffles", [
    # quality report: ONE predicate-agg pass + uniqueness groupBy; the
    # referential check broadcasts the parent key set.
    ("q_data_quality_orders", 3),
    # grouped OLS: single partial-aggregated groupBy (+ final order).
    ("q_regression_price_on_qty", 2),
    # seasonal: hourly agg, per-type window over the tiny aggregate.
    ("q_seasonal_hourly_profile", 3),
    # CUSUM: hourly agg + per-type windows on the aggregate.
    ("q_cusum_changepoints", 3),
    # BPE: token-type count + pair count -- the explode runs over the
    # vocabulary, never the token stream.
    ("q_bpe_pair_merges", 2),
    # equi-depth: per-priority ntile window + bucket agg.
    ("q_equidepth_price_buckets", 2),
])
def test_mining_queries_bounded_shuffles_no_udf(
    name, max_shuffles, spark, sf_dir, monkeypatch
):
    _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch)


def test_textrank_iterations_bounded_and_jvm_side(spark, sf_dir, monkeypatch):
    """8 supersteps of rank-join-agg, lineage cut every 4: the final
    plan and the cut rounds' inputs together stay within the bound,
    all JVM-side, no cartesian anywhere in the iteration."""
    _check_plan_shape("q_textrank_tokens", 24, spark, sf_dir, monkeypatch)


def test_quality_referential_check_broadcasts(spark, sf_dir):
    df = QUERIES["q_data_quality_orders"].fn(spark, sf_dir)
    assert has_broadcast_join(df)


@pytest.mark.parametrize("name,max_shuffles", [
    # novelty: gram min-agg + join back + doc rollup (+ final order).
    ("q_ngram_novelty", 4),
    # Benford: digit agg + the 9-row window.
    ("q_benford_price_digits", 2),
    # triangles: canonical-edge distinct + two self-joins + two
    # explode-side aggs (lexicographic orientation; degree-oriented
    # variant documented for skewed graphs).
    ("q_triangle_clustering", 15),
])
def test_mining_batch3_bounded_shuffles(name, max_shuffles, spark, sf_dir, monkeypatch):
    _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch)


def test_ttest_is_single_pass_shuffle_free(spark, sf_dir, monkeypatch):
    """Sufficient statistics for both samples come from ONE conditional
    aggregation: no shuffle at all before the 1-row result."""
    _check_plan_shape("q_ttest_purchase_view", 0, spark, sf_dir, monkeypatch)


def test_sparse_tfidf_reuses_checkpointed_postings(spark, sf_dir, monkeypatch):
    """The weighted postings feed four branches; without the cut each
    branch recomputes tokenize+count+join from the raw scan.  The
    postings are built once, in the one cut, and the final plan reads
    only their stored rows."""
    (df, _), *cuts = _query_plans("q_sparse_tfidf_topk", spark, sf_dir, monkeypatch)
    assert len(cuts) == 1
    final, postings = explain_str(df, "simple"), explain_str(cuts[0][0], "simple")
    assert "FileScan" in postings
    assert "FileScan" not in final and "Scan ExistingRDD" in final
    for d in (df, cuts[0][0]):
        assert not has_python_udf(d)
        assert "CartesianProduct" not in explain_str(d, "simple")


@pytest.mark.parametrize("name,max_shuffles", [
    # ER (exact-first): dedup-to-representatives groupBy, the
    # string-level gram join + edge agg, the label join-back and the
    # entity rollup; CC rounds run off a checkpointed edge list so the
    # final plan is post-checkpoint only.
    ("q_entity_resolution_parts", 6),
    # key overlap: two distincts feeding one full-outer join -- the
    # join reuses the distincts' hash partitioning, so only the two
    # distinct exchanges appear.
    ("q_join_key_overlap", 3),
    # session paths: all windows share the user partitioning; the path
    # rollup and final count add keyed aggs.
    ("q_top_session_paths", 4),
])
def test_mining_batch4_bounded_shuffles(name, max_shuffles, spark, sf_dir, monkeypatch):
    _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch)


@pytest.mark.parametrize("name,max_shuffles", [
    # global equi-depth: ONE percentile agg (1-row broadcast back) +
    # the 8-bucket groupBy -- no sort of the data anywhere.
    ("q_equidepth_global_prices", 3),
    # temperature mixture: per-source count + the sorted-fold 1-row
    # normalizer broadcast back.
    ("q_temperature_mixture", 4),
])
def test_mining_batch5_bounded_shuffles(name, max_shuffles, spark, sf_dir, monkeypatch):
    _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch)


def test_global_equidepth_has_no_sort_before_agg(spark, sf_dir):
    """The whole point vs the ntile form: no window operator (and so no
    single-partition sort of the data) anywhere in the plan."""
    df = QUERIES["q_equidepth_global_prices"].fn(spark, sf_dir)
    assert "Window" not in explain_str(df, "simple")


@pytest.mark.parametrize("name,max_shuffles", [
    # Pareto: part rollup, then range_block + blocked_running for the
    # cumulative (r10 -- the part aggregate scales with SF, so no
    # global window).  The static count includes ~5 pre-AQE duplicates
    # of the canonicalized part rollup (main/bounds/partials/guard/
    # total); AQE reuses those shuffle stages at runtime.
    ("q_abc_pareto_parts", 18),
    # top-k + OTHERS: broadcast dim joins, one rollup, 25-row rank.
    ("q_topk_nations_with_others", 5),
])
def test_reporting_queries_bounded_shuffles(
    name, max_shuffles, spark, sf_dir, monkeypatch
):
    _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch)


def test_topk_others_broadcasts_dims(spark, sf_dir):
    df = QUERIES["q_topk_nations_with_others"].fn(spark, sf_dir)
    assert has_broadcast_join(df)


def test_lsh_blocking_quality_no_cartesian_on_spark_side(
    spark, sf_dir, monkeypatch
):
    """The Spark side must never run the naive all-pairs join -- truth
    comes from the prefix-filtered exact join; only the ORACLE text
    contains the quadratic form."""
    for d, _ in _query_plans("q_lsh_blocking_quality", spark, sf_dir, monkeypatch):
        assert not has_python_udf(d)
        assert "CartesianProduct" not in explain_str(d, "simple")


@pytest.mark.parametrize("name,max_shuffles", [
    # TWAP: lead window + aggregate share the (type, day) keying.
    ("q_twap_daily_values", 3),
    # OHLC: two row_number windows + the aggregate on (type, hour).
    ("q_ohlc_hourly_values", 3),
])
def test_timeseries_bars_bounded_shuffles(
    name, max_shuffles, spark, sf_dir, monkeypatch
):
    _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch)


@pytest.mark.parametrize("name,max_shuffles", [
    # NB classifier: token-stat aggs (lang,w / lang / doc,w), the
    # vocabulary-keyed likelihood join, per-(doc,class) reduce and the
    # argmax window; the class/prior/vocab sides are 1-to-5-row
    # broadcasts (their BroadcastNestedLoopJoin is the sanctioned
    # broadcast-crossJoin of totals, not a fact-fact nested loop).
    ("q_nb_lang_classifier", 22),
    # k-core: edge build (order-key self-join + distinct) then 6
    # peeling rounds of degree-agg + two semi-joins; lineage is cut
    # every other round so the runtime plan stays shallow even though
    # the static explain stacks the unrolled rounds.
    ("q_kcore_copurchase", 52),
    # ACF: hourly agg, 1-row mean/variance broadcast, hour-lag join,
    # per-lag reduce.
    ("q_acf_hourly_counts", 13),
    # quality monitor batch twin: ONE keyed aggregation + final sort.
    ("q_quality_monitor_batch", 2),
    # Lloyd IVF: 3 unrolled update rounds (cell,dim agg + cell agg)
    # plus probe/top-k; assignments are map-only broadcasts.
    ("q_ann_ivf_topk", 40),
    # BRP radius top-k: bucket join + distinct + rank.
    ("q_ml_brp_ann_topk", 4),
    # SCD2 point-in-time: history window + probe equi-join on the
    # customer key (interval predicate inside the join) + rollup.
    ("q_scd2_point_in_time_join", 6),
    # hierarchy rollup: per-round arithmetic expansion + distinct,
    # revenue join, ancestor rollup (checkpoints cut the static stack).
    ("q_hierarchy_revenue_rollup", 8),
    # multi-touch attribution: user-key range join + per-purchase
    # window + rollup.
    ("q_multitouch_attribution", 5),
    # sliding-window chunker: map-only + the output sort.
    ("q_chunk_sliding_windows", 1),
    # Mann-Whitney: value-compress agg, then range_block +
    # blocked_running for the rank cumsum (r10: the distinct-value
    # domain measured 4x/decade) + 1-row reduce; static count includes
    # the pre-AQE duplicates of the canonicalized value rollup.
    ("q_mannwhitney_purchase_view", 6),
    # JS divergence: token counts, vocab grid join, per-pair reduce.
    ("q_js_divergence_sources", 8),
    # windowed dedup: one (user,type,window) rank shuffle + rollup.
    ("q_dedup_events_time_window", 3),
    # cohort LTV: first-event agg + join + rollup + grid window.
    ("q_cohort_ltv_curve", 6),
    # k-anonymity: one quasi-identifier grouped count + 1-row reduce.
    ("q_k_anonymity_audit", 2),
    # Laspeyres: (part,month) rollup + base-month window + month rollup.
    ("q_laspeyres_price_index", 7),
    # skew profile: grouped count + VALUE-domain reductions (r10: the
    # p99 rank moved off the corpus-scaled per-key table onto the
    # saturating rows-per-key value domain).
    ("q_skew_profile_orders_custkey", 8),
    # MRR: inverted-index overlap + rank window + per-query min.
    ("q_retrieval_mrr_eval", 9),
    # bounce: session window + two rollups.
    ("q_session_bounce_rate", 4),
    # freshness: grouped max + 1-row global broadcast.
    ("q_freshness_report", 3),
    # NDCG eval: inverted-index join + rank windows + two reductions.
    ("q_retrieval_ndcg_eval", 12),
])
def test_r04_new_queries_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch):
    _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch)


def test_contrastive_pairs_plan_shape(spark, sf_dir, monkeypatch):
    """SRP banded candidates + verify joins (positive side; its numpy
    projection is the sanctioned Arrow-batched escape, so only
    row-at-a-time Python is banned) + one bucket window (negatives)."""
    plans = _query_plans("q_contrastive_pairs", spark, sf_dir, monkeypatch)
    assert sum(n for _, n in plans) <= 11
    for d, _ in plans:
        plan = explain_str(d, "simple")
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name,max_shuffles", [
    # k-fold: one (fold, lang) rollup + the k-row fold-total broadcast.
    ("q_kfold_balance", 3),
    # bootstrap: the width-pinning repartition + B-group partial agg
    # + B-row rank window + scalar crossJoins.
    ("q_bootstrap_mean_ci", 6),
    # curriculum: skinny (score, id) global ntile + (stage, shard) agg
    # + the r10 carry-bound guard's block-count scalar aggregate (the
    # exchange that buys the static .limit + runtime raise_error bound
    # on the carry -- see operators/ranks._guarded_carry).
    ("q_curriculum_shards", 5),
    # RRF: inverted-index overlap + three rank windows over candidates.
    ("q_retrieval_rrf_fusion", 10),
    # kappa: map-only classify + two marginal rollups + scalar joins.
    ("q_classifier_kappa", 6),
])
def test_r04_batch3_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch):
    _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch)


def test_wav_decode_is_arrow_batched(spark, sf_dir):
    """The WAV decode runs once per Arrow batch (mapInPandas), never
    row-at-a-time; everything around it is JVM exprs."""
    from etl_onprem_to_cloud_spark.plans.checks import explain_str

    df = QUERIES["q_multimodal_wav_decode"].fn(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_png_decode_is_arrow_batched_map_only(spark, sf_dir):
    """The PNG leg is two chained mapInPandas stages (encode fixture +
    decode) with NO shuffle between them -- binary payloads never move
    across the network -- and no row-at-a-time Python."""
    from etl_onprem_to_cloud_spark.plans.checks import explain_str

    df = QUERIES["q_multimodal_png_decode"].fn(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert plan.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan
    assert shuffle_count(df) == 0


@pytest.mark.parametrize("name,max_shuffles", [
    # Heaps: two token-key shuffles + the skinny cumulative window.
    ("q_heaps_vocab_growth", 6),
    # KS: distinct-value rollup, blocked ECDF cumsums (r10, same fix
    # as Mann-Whitney) + scalar joins; pre-AQE duplicate subtrees.
    ("q_ks_drift_purchase_view", 8),
    # temporal audit: tag (broadcast cutoff) + split/user rollups.
    ("q_temporal_split_audit", 7),
    # chi2: contingency rollup + marginal windows + 1-row reduce.
    ("q_chi2_type_by_dow", 7),
    # KM: user rollup + duration rollup + two skinny windows.
    ("q_km_survival_first_purchase", 8),
    # CF: distinct + cap window + user-keyed pair join + pair rollup;
    # capped's lineage prints per consumer (exchange reuse dedups at
    # execution -- a persist was measured 2x SLOWER than the reuse).
    ("q_item_item_cf", 12),
    # rules: basket distinct + pair join + rollup + rank.
    ("q_association_rules_parts", 8),
    # recs: the CF shape + serving join + per-user rank; see the CF
    # note -- the static count includes each reuse of capped's chain.
    ("q_user_recs_topn", 29),
    # MASE: hourly rollup + lag window + 1-row reduce.
    ("q_seasonal_naive_mase", 4),
    # Wilson: item rollup + rank window over the item domain.
    ("q_wilson_ctr_ranking", 4),
    # modularity: edge build (exchange-reused) + degree/brand rollups
    # + scalar joins; the static count includes each reuse.  12 -> 15
    # (r11): the edge build gained the layout.spread_input repartition
    # (A/B 1.60 vs 2.30 s; no-op at scale), whose ONE exchange prints
    # once per edge-build consumer (intra / degree / m) in the
    # unexecuted plan -- same per-reuse reprint the CF note above
    # describes.  Executed exchanges are unchanged except the spread.
    ("q_modularity_brand_copurchase", 15),
])
def test_r04_batch4_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch):
    _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch)


@pytest.mark.parametrize("name,max_shuffles", [
    # streaks: the (user, day) distinct + island window + rollups
    # share the user partitioning.
    ("q_user_daily_streaks", 4),
    # Markov: the lead-pair rollup is the only event-scale exchange;
    # the 8 power iterations are driver-side over the bounded matrix.
    ("q_markov_stationary_types", 2),
    # burstiness / drawdown / CUSUM / clamped ledger: one user-keyed
    # exchange (window or grouped fold) + the final order.
    ("q_interarrival_burstiness", 3),
    ("q_max_drawdown_users", 3),
    ("q_cusum_value_drift", 3),
    ("q_clamped_balance_users", 3),
    # PQ / IVFPQ: encode and ADC are map-only (literal codebooks /
    # broadcast tables); only the bounded top-k windows shuffle, plus
    # the r10 spread_input repartition of an under-partitioned corpus
    # before the encode pass (a no-op shuffle-count-wise on real,
    # well-partitioned inputs, but the plan TEXT counts it under each
    # consumer branch at fixture scale: +3 for pq, +2 for ivfpq).
    ("q_ann_pq_adc_topk", 6),
    ("q_ann_ivfpq_topk", 6),
    ("q_holt_linear_forecast", 2),
    ("q_peak_concurrent_sessions", 3),
    # seq patterns: per-(user,type) position rollup + the 2/3-length
    # pattern joins.
    ("q_seq_patterns_support", 9),
    # proration: lineitem-orders join + the orderkey-partitioned
    # windows (one reused exchange) + the final single-row agg.
    ("q_proration_largest_remainder", 3),
    # FIFO: partkey cumsum window + demand rollup (shared key) + top-k.
    ("q_fifo_cost_matching", 3),
    # calibration: the NB scoring subtree (22 plan-text exchanges) is
    # re-expanded under top1/softmax/bins, so the TEXT count triples;
    # at runtime the identical scoring exchanges collapse to
    # ReusedExchange (same relation, same keys).
    ("q_nb_calibration_bins", 80),
    # DSIR: O(B)-bucket model rollups (re-expanded per pool in plan
    # text) + the per-doc weight rollup + the TakeOrdered top-k.
    ("q_dsir_importance_resampling", 6),
    # LPA: edge build (order-key join + pair rollup) before the
    # checkpoint cut, then ~2 node-keyed exchanges per visible round.
    ("q_lpa_communities", 10),
    # Holt-Winters: the daily rollup is the only event-scale exchange
    # (plus the single-row fold's trivial singleton).
    ("q_holt_winters_additive", 2),
    # PSI: the bin rollup + the broadcast min/max/total scalars (the
    # split aggregate and terms rollup each add a singleton exchange).
    ("q_psi_value_drift", 5),
    # conformal: the daily rollup + calendar-sized windows/joins.
    ("q_conformal_forecast_interval", 8),
    # BFS: plan TEXT re-expands the frontier subtree under each
    # union branch past the checkpoint cut (runtime collapses the
    # identical node-keyed exchanges to ReusedExchange).
    ("q_bfs_hops_from_hubs", 20),
    # Neyman: one 20-group stats rollup + strata-sized windows.
    ("q_neyman_allocation", 5),
])
def test_r04_batch5_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch):
    _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch)


@pytest.mark.parametrize("name,max_shuffles", [
    # mix shift: the (segment, period) rollup re-expands in plan TEXT
    # under the w/q/g branches (runtime: ReusedExchange); the grand
    # totals ride as 1-row broadcasts (BNLJ by design, not cartesian).
    ("q_mix_shift_decomposition", 10),
    # checksums: three map-side-combined single-row aggregates
    # unioned -- NOTHING shuffles but the partial-sum rows.
    ("q_migration_checksums", 1),
    # CDC: both snapshot sides hash once on the join key + the 4-group
    # action rollup.
    ("q_snapshot_diff_cdc", 5),
    # Adamic-Adar: the checkpointed edge list truncates plan text at
    # the RDD scans; visible exchanges are the retention window, the
    # degree rollup, the wedge join and the pair rollup.
    ("q_adamic_adar_linkpred", 6),
    # target encoding: ONE fact-scale exchange (the category-fold
    # rollup); category totals and the global mean re-expand the tiny
    # rollup in text and broadcast back.
    ("q_target_encoding_oof", 6),
    # Theil-Sen: the day rollup is the only data-scale exchange; the
    # pair join + rank selections run on the time-bounded series
    # (plan text re-expands that rollup under a/b/resid branches).
    ("q_theilsen_daily_trend", 11),
    # l-diversity: QI rollup + 1-row reduce.
    ("q_l_diversity_audit", 2),
    # isotonic: the shared confidence plan + the checkpointed 10-row
    # bin relation; all range/minimax joins are explicit broadcasts.
    ("q_isotonic_recalibration", 6),
    # ROC-AUC: the NB scoring subtree re-expands in plan TEXT under
    # the loc/btot prefix-sum branches (runtime ReusedExchange); real
    # additions are the score rollup + block window + carry join.
    ("q_nb_roc_auc", 24),
    # Bellman-Ford: rounds run behind eager checkpoints; the visible
    # plan is the final TakeOrdered over the last round's RDD scan.
    ("q_bellman_ford_cheapest", 2),
    # Croston: top-part rollup + the filtered day rollup; the fold is
    # a single-row array aggregate.
    ("q_croston_intermittent", 4),
    # STL: the event-scale day rollup is checkpointed once; the
    # calendar-sized trend/seasonal/median branches re-expand in plan
    # text over the RDD scan only.
    ("q_stl_anomaly_days", 22),
    # DSAR: four broadcast-joined count legs, no fact shuffle.
    ("q_subject_access_report", 5),
    # Hill alpha: the pair rollup behind a checkpoint + degree rollup
    # + 1-row reduce.
    ("q_degree_powerlaw_alpha", 2),
    # exact percentiles: two fact-scale histogram passes + windows on
    # the domain-bounded bucket relations + the 3-row pivot.
    ("q_exact_price_percentiles", 6),
    # Fellegi-Sunter: catalog-sized blocked self-join + three value
    # histograms + broadcast scalar weights.
    ("q_fellegi_sunter_linkage", 4),
    # removal attribution: journeys + transition rollup collect; the
    # 5 value chains are driver-side over the bounded matrix, so the
    # returned frame is a createDataFrame sort.
    ("q_markov_removal_attribution", 1),
    # CUPED: per-user rollup + one global conditional-moment reduce.
    ("q_cuped_ab_readout", 3),
    # SRM/z + MDE: one per-user rollup + a 1-row reduce each.
    ("q_ab_srm_and_ztest", 2),
    ("q_ab_mde_power", 2),
    # drift report: one 1-row profile aggregate per snapshot (text
    # re-expands it per column leg) + the 3-row join.
    ("q_schema_drift_report", 5),
    # Simpson: fact-dim join + segment rollup behind a checkpoint.
    ("q_simpsons_paradox_check", 1),
    # safety stock: day rollup + moment rollup (shared part key).
    ("q_safety_stock_parts", 3),
    # elasticity: broadcast part join + one brand-keyed moment rollup.
    ("q_price_elasticity_brand", 3),
    # stickiness: the (user, day) grid behind a checkpoint + DAU/WAU
    # day-keyed rollups.
    ("q_dau_wau_stickiness", 6),
    # conversion latency: per-user rollup + the two-level bounded
    # histogram selection behind a checkpoint.
    ("q_conversion_latency", 5),
    # watermark audit: block running-max feeding the checkpointed
    # minute histogram; visible plan = bounded-histogram legs only.
    ("q_watermark_lateness_audit", 8),
    # ANOVA: the 7-group rollup + 1-row reduce.
    ("q_anova_value_by_dow", 2),
    # Cramer's V: the 35-cell rollup behind a checkpoint + margins.
    ("q_cramers_v_type_dow", 4),
    # ABC x XYZ: two part-keyed rollups + the blocked Pareto cumsum
    # (r10 -- parts scale with SF, the "catalog-bounded" claim was
    # refuted by measurement) + the matrix join; static count includes
    # the pre-AQE duplicates of the revenue rollup.
    ("q_abc_xyz_matrix", 15),
    # backtest: the checkpointed day rollup + horizon joins on the
    # calendar-bounded series + the 7-group reduce.
    ("q_forecast_backtest_horizons", 3),
])
def test_r04_batch89_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch):
    _check_plan_shape(name, max_shuffles, spark, sf_dir, monkeypatch)


# ---------------------------------------------------------------------------
# Never-broadcast-a-corpus-scaled-relation (VERDICT r8 item 4)
# ---------------------------------------------------------------------------

#: Keyed-aggregate suspects must not grow more than this over the
#: 10x data step sf0.01 -> sf0.1.  Measured separation (r10 audit over
#: all 62 suspects): bounded domains read 1.0-1.6x (langs, digits,
#: design buckets), saturating domains read <= 2.8x while filling in
#: (zval's 2^16 at 2.83x, survival hours at 2.69x, CMS cells at
#: 2.27x), corpus keys read 4-13x (custkey/partkey 10x, distinct
#: event values 4.05x, spans 9.9x).  3.0 splits the clusters.
_SUSPECT_GROWTH_MAX = 3.0
_SUSPECT_SF_A = "/root/testdata/sf0.01"
_SUSPECT_SF_B = "/root/testdata/sf0.1"


def test_registry_wide_scale_discipline(spark, sf_dir, monkeypatch):
    """ONE pass over every registered query's plan, six invariants
    (VERDICT r8 item 4, generalized; r10 items 3 + leaf observability):

    1. no broadcast hint whose subtree reaches a corpus-scaled table
       without a bounding limit / scalar aggregate (the r8 q18 catch --
       an explicit hint disables the size estimator, so a corpus-scaled
       build side passes every test SF and builds a multi-GB broadcast
       at deployment scale; swept from tpch2 + 7 more queries in r9);
    2. no GLOBAL window (empty partitionBy = ONE task holding every
       input row) over a corpus-scaled stream (r9 sweep: both z-order
       ntiles and the curriculum ntile moved to
       operators/ranks.blocked_global_ntile);
    3. no CartesianProduct anywhere (cross joins must ride a
       broadcast);
    4. no row-at-a-time Python (BatchEvalPython) anywhere -- Python
       hot paths are Arrow-batched or absent;
    5. every KEYED aggregate standing between a hint/window and a
       corpus table has MEASURED bounded group growth (<= 3x over the
       10x step sf0.01 -> sf0.1) -- the r9 guards' vacuous-pass mode,
       closed: the r10 audit caught 9 queries whose "bounded"
       aggregates grew 4-13x (per-partkey Pareto/Gini/XYZ windows,
       per-custkey RFM/skew, per-item association rules, per-value
       rank tests, per-span top-k), all rewritten onto
       range_block/blocked_running/limit-first shapes;
    6. every plan LEAF resolves to a known source or a benign
       in-memory kind, so a guard "pass" can't hide an unwalkable
       leaf (ADVICE r9);
    7. every KEYED aggregate that lowers to SortAggregate (a
       First/Last/min/max over a string/binary child gives the
       aggregation buffer a variable-width slot, disqualifying
       HashAggregate) over a corpus-reaching input has MEASURED
       bounded INPUT growth -- the partial SortAggregate sorts its
       whole input stream within each partition, map-side, so no
       shuffle-width conf can split it (the r10 sf100 probe caught
       DSIR's first(lang) per-doc rollup at 12.9 GB of sort spill /
       exponent 1.06 at BOTH widths; fixed by promoting lang to a
       grouping key);
    8. every Python stage runs once (:func:`python_stage_reruns`): no
       Python node in the stage a range exchange samples, and no
       Python UDF evaluated twice over one input in one stage.

    Bounded hinted/window inputs (fixed catalogs, scalar aggregates,
    explicit limits) pass structurally; bounded-DOMAIN keyed
    aggregates (langs, hours, design buckets) pass by measurement;
    there is deliberately NO name-keyed allowlist, so a reintroduction
    anywhere in the registry fails here.  Invariants 1-4, 6 and 8 also
    read the input of every ``localCheckpoint`` cut the build makes
    (:func:`_plans`); the measured invariants 5 and 7 read the final
    plan.  Positive controls for the walkers and the suspect machinery
    live in the tests below."""
    from etl_onprem_to_cloud_spark.plans import (
        corpus_broadcast_hints,
        keyed_agg_suspects,
        python_stage_reruns,
        string_buffer_agg_suspects,
        suspect_group_count,
        unpartitioned_corpus_windows,
        unresolved_corpus_leaves,
    )

    bad = {}
    suspect_queries = {}
    sba_queries = {}
    for name, spec in QUERIES.items():
        plans = _query_plans(name, spark, sf_dir, monkeypatch)
        v = []
        for d, _ in plans:
            v += corpus_broadcast_hints(d) + unpartitioned_corpus_windows(d)
            plan = explain_str(d, "simple")
            if "CartesianProduct" in plan:
                v.append("cartesian-product")
            if "BatchEvalPython" in plan:
                v.append("row-at-a-time-python-udf")
            v.extend(python_stage_reruns(d))
            v.extend(f"unresolved-leaf:{u}" for u in unresolved_corpus_leaves(d))
        df = plans[0][0]
        if keyed_agg_suspects(df):
            suspect_queries[name] = spec
        if string_buffer_agg_suspects(df):
            sba_queries[name] = spec
        if v:
            bad[name] = sorted(set(v))
    assert bad == {}, f"scale-discipline violations: {bad}"

    # Invariant 5: measure every suspect's group-count growth.  Build
    # the suspect-bearing queries at the two SFs and pair suspects by
    # (kind, grouping-keys); a suspect present at one SF but not the
    # other is itself a failure (the pairing would be silently wrong).
    grow = {}
    for name, spec in suspect_queries.items():
        sa = keyed_agg_suspects(spec.fn(spark, _SUSPECT_SF_A))
        sb = keyed_agg_suspects(spec.fn(spark, _SUSPECT_SF_B))
        ca, cb = {}, {}
        for tagset, counts in ((sa, ca), (sb, cb)):
            for kind, keys, node in tagset:
                tag = f"{kind}|{keys}"
                if tag not in counts:  # same agg under several roots
                    counts[tag] = suspect_group_count(spark, node)
        if set(ca) != set(cb):
            grow[name] = f"suspect sets differ: {sorted(ca)} vs {sorted(cb)}"
            continue
        for tag, a in ca.items():
            b = cb[tag]
            if b > max(a, 1) * _SUSPECT_GROWTH_MAX:
                grow[f"{name}::{tag}"] = f"{a} -> {b} (x{b / max(a, 1):.2f})"
    assert grow == {}, (
        "keyed-aggregate suspects with corpus-scaled group growth "
        f"(>{_SUSPECT_GROWTH_MAX}x over sf0.01->sf0.1): {grow}"
    )

    # Invariant 7: measure every sort-lowered aggregate's INPUT
    # growth (the partial SortAggregate sorts its whole input stream;
    # the group count is irrelevant, the stream size is the hazard).
    sba_grow = {}
    for name, spec in sba_queries.items():
        sa = string_buffer_agg_suspects(spec.fn(spark, _SUSPECT_SF_A))
        sb = string_buffer_agg_suspects(spec.fn(spark, _SUSPECT_SF_B))
        ca, cb = {}, {}
        for tagset, counts in ((sa, ca), (sb, cb)):
            for fns, keys, child in tagset:
                tag = f"{fns}|{keys}"
                if tag not in counts:
                    counts[tag] = suspect_group_count(spark, child)
        if set(ca) != set(cb):
            sba_grow[name] = (
                f"suspect sets differ: {sorted(ca)} vs {sorted(cb)}"
            )
            continue
        for tag, a in ca.items():
            b = cb[tag]
            if b > max(a, 1) * _SUSPECT_GROWTH_MAX:
                sba_grow[f"{name}::{tag}"] = f"{a} -> {b} (x{b / max(a, 1):.2f})"
    assert sba_grow == {}, (
        "sort-lowered string-buffer aggregates with corpus-scaled "
        f"INPUT growth (>{_SUSPECT_GROWTH_MAX}x over sf0.01->sf0.1): "
        f"{sba_grow}"
    )


def test_python_stage_rerun_guard_controls(spark):
    """The guard names both rerun shapes and passes their fixes: an
    ORDER BY over a pandas stage (its range sampler runs the stage
    again) against a range exchange below it, and a filter on a UDF
    column (pushed below the projection, so the UDF is planned twice)
    against one mapInPandas pass that computes and filters."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from etl_onprem_to_cloud_spark.plans import python_stage_reruns

    @pandas_udf("double")
    def plus_one(v):
        return v + 1.0

    def walk(batches):
        for pdf in batches:
            yield pdf[pdf["v"] > 3.0]

    df = spark.createDataFrame([(k, float(k)) for k in range(20)], "k int, v double")
    mapped = df.mapInPandas(walk, df.schema)
    assert python_stage_reruns(mapped.orderBy("k")) == [
        "MapInPandas under a range exchange"
    ]
    ranged_first = df.repartitionByRange("k").mapInPandas(walk, df.schema)
    assert python_stage_reruns(ranged_first.sortWithinPartitions("k")) == []
    agg = df.groupBy("k").agg(F.sum("v").alias("v"))
    assert python_stage_reruns(agg.orderBy("k")) == []  # JVM-only stage
    twice = python_stage_reruns(
        df.select("k", plus_one("v").alias("p")).filter(F.col("p") > 3.0)
    )
    assert len(twice) == 1 and twice[0].startswith("plus_one(v#")
    assert twice[0].endswith(") twice in one stage")
    assert python_stage_reruns(mapped) == []


def test_corpus_broadcast_guard_positive_controls(spark, sf_dir):
    """The guard must SEE the q18 shape or the sweep assertion above
    is vacuous: a hinted raw corpus table, a hinted filtered subset
    (still linear in SF), and a hint hidden inside a subquery must all
    be flagged; fixed catalogs, 1-row aggregates, grouped aggregates,
    and explicit limits must pass."""
    from pyspark.sql import functions as F

    from etl_onprem_to_cloud_spark.plans import corpus_broadcast_hints

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    key = F.col("l_suppkey") == F.col("c_custkey")

    # q18 class: raw corpus table hinted.
    assert corpus_broadcast_hints(li.join(F.broadcast(cust), key)) == [
        "broadcast->customer"
    ]
    # Filtered subset: still linear in SF, still flagged.
    assert corpus_broadcast_hints(
        li.join(F.broadcast(cust.filter(F.col("c_acctbal") > 0)), key)
    ) == ["broadcast->customer"]
    # Hint inside a scalar-subquery plan is still found.
    li.createOrReplaceTempView("__bh_li")
    cust.createOrReplaceTempView("__bh_cust")
    sub = spark.sql(
        "SELECT l_orderkey FROM __bh_li WHERE l_extendedprice > ("
        "  SELECT /*+ BROADCAST(c) */ max(c.c_acctbal)"
        "  FROM __bh_cust x JOIN __bh_cust c ON x.c_custkey = c.c_custkey)"
    )
    assert corpus_broadcast_hints(sub) == ["broadcast->customer"]

    # Fixed catalog: passes.
    ok = li.join(F.broadcast(nation), F.col("l_suppkey") == F.col("n_nationkey"))
    assert corpus_broadcast_hints(ok) == []
    # Scalar (1-row) aggregate: statically bounded, passes.
    assert corpus_broadcast_hints(
        li.crossJoin(F.broadcast(cust.agg(F.avg("c_acctbal").alias("a"))))
    ) == []
    # KEYED aggregate: not a hard flag here, but no longer a silent
    # pass either -- it surfaces as a measured suspect (r10 tightening;
    # see test_keyed_agg_suspect_controls).
    assert corpus_broadcast_hints(
        li.join(
            F.broadcast(cust.groupBy("c_nationkey").count()),
            F.col("l_suppkey") == F.col("c_nationkey"),
        )
    ) == []
    # Explicit limit (top-k / bounded query side): passes.
    assert corpus_broadcast_hints(
        li.join(F.broadcast(cust.orderBy("c_custkey").limit(5)), key)
    ) == []


def test_global_window_guard_positive_controls(spark, sf_dir):
    """The guard must see a bare global window over a corpus scan and
    over a corpus join, and must pass partitioned windows, global
    windows over aggregates, and the blocked_global_ntile shape."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_onprem_to_cloud_spark.operators import blocked_global_ntile
    from etl_onprem_to_cloud_spark.plans import unpartitioned_corpus_windows

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    bare = li.withColumn(
        "rn", F.row_number().over(Window.orderBy("l_orderkey"))
    )
    assert unpartitioned_corpus_windows(bare) == ["window->lineitem"]

    # Partitioned window over the same scan: fine.
    ok_part = li.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("l_orderkey").orderBy("l_linenumber")
        ),
    )
    assert unpartitioned_corpus_windows(ok_part) == []

    # Global window over a bounded aggregate: fine.
    agg = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    ok_agg = agg.withColumn(
        "r", F.rank().over(Window.orderBy(F.col("n").desc()))
    )
    assert unpartitioned_corpus_windows(ok_agg) == []

    # The blocked ntile's plan: its only global window sits over the
    # per-block aggregate, so the guard passes it by construction.
    ok_blocked = blocked_global_ntile(
        li.select("l_orderkey", "l_linenumber"),
        F.expr("l_orderkey DIV 100000"),
        ["l_orderkey", "l_linenumber"],
        8,
    )
    assert unpartitioned_corpus_windows(ok_blocked) == []


def test_keyed_agg_suspect_controls(spark, sf_dir):
    """The r10 guard tightening (VERDICT r9 item 3): a keyed Aggregate
    no longer silently bounds a hinted/window subtree.  The prescribed
    control -- a broadcast hint over lineitem.groupBy('l_orderkey') --
    must surface as a suspect whose MEASURED group count scales with
    the corpus (ratio ~10 over a 10x SF step), while a bounded-domain
    key (o_orderpriority, 5 values at any SF) surfaces as a suspect
    that measures flat; scalar aggregates and limits produce no
    suspect at all."""
    from pyspark.sql import functions as F

    from etl_onprem_to_cloud_spark.plans import (
        keyed_agg_suspects,
        suspect_group_count,
    )

    def per_sf(sf, key):
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        agg = li.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
        return li.join(F.broadcast(agg), key)

    def growth(key):
        a, b = (
            per_sf("/root/testdata/sf0.001", key),
            per_sf("/root/testdata/sf0.01", key),
        )
        sa, sb = keyed_agg_suspects(a), keyed_agg_suspects(b)
        assert [(k, s) for k, s, _ in sa] == [("broadcast", key)]
        assert [(k, s) for k, s, _ in sb] == [("broadcast", key)]
        na = suspect_group_count(spark, sa[0][2])
        nb = suspect_group_count(spark, sb[0][2])
        return nb / na

    # Corpus key: the vacuous-pass shape the r9 guard accepted.
    assert growth("l_orderkey") > 3.0
    # Bounded domain: same static shape, measures flat.
    assert growth("l_returnflag") < 1.5

    # Scalar aggregate and explicit limit: statically bounded, no
    # suspect to measure.
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    scalar = li.crossJoin(
        F.broadcast(li.agg(F.avg("l_extendedprice").alias("a")))
    )
    assert keyed_agg_suspects(scalar) == []
    topk = li.join(
        F.broadcast(li.select("l_orderkey").orderBy("l_orderkey").limit(5)),
        "l_orderkey",
    )
    assert keyed_agg_suspects(topk) == []

    # The same holds under a global window root (the sibling walk).
    from pyspark.sql import Window

    agg = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    win = agg.withColumn("r", F.row_number().over(Window.orderBy("n")))
    ws = keyed_agg_suspects(win)
    assert [(k, s) for k, s, _ in ws] == [("window", "l_orderkey")]


def test_string_buffer_agg_suspect_controls(spark, sf_dir):
    """Invariant-7 positive controls (the DSIR sf100 catch): a keyed
    first/min-over-STRING aggregate over a corpus stream must surface
    as a suspect whose MEASURED input grows with the corpus; the
    grouping-key form of the same rollup (the fix), a scalar
    string-min (no sort inserted without grouping keys), a
    fixed-width first(), and a limit-bounded input must not."""
    from pyspark.sql import functions as F

    from etl_onprem_to_cloud_spark.plans import (
        string_buffer_agg_suspects,
        suspect_group_count,
    )

    def docs(sf):
        return spark.read.parquet(f"{sf}/documents.parquet")

    def bad(sf):  # the pre-fix DSIR shape
        return docs(sf).groupBy("doc_id").agg(
            F.first("lang").alias("lang"), F.count(F.lit(1)).alias("n")
        )

    # documents is flat 0.001->0.01 (500 rows at both), so the growth
    # control uses the same SF pair as the registry measurement.
    sa = string_buffer_agg_suspects(bad(_SUSPECT_SF_A))
    sb = string_buffer_agg_suspects(bad(_SUSPECT_SF_B))
    assert [(f, k) for f, k, _ in sa] == [("first(lang)", "doc_id")]
    assert [(f, k) for f, k, _ in sb] == [("first(lang)", "doc_id")]
    na = suspect_group_count(spark, sa[0][2])
    nb = suspect_group_count(spark, sb[0][2])
    assert nb / na > 3.0  # input stream scales with the corpus

    d = docs(sf_dir)
    # The fix: functionally-dependent string promoted to grouping key.
    fixed = d.groupBy("doc_id", "lang").agg(F.count(F.lit(1)).alias("n"))
    assert string_buffer_agg_suspects(fixed) == []
    # Scalar string-min: SortAggregate needs no input ordering when
    # there are no grouping keys, so no sort and no suspect.
    assert string_buffer_agg_suspects(d.agg(F.min("lang").alias("m"))) == []
    # Fixed-width buffer (first over a bigint): hash-aggregable.
    assert (
        string_buffer_agg_suspects(
            d.groupBy("lang").agg(F.first("doc_id").alias("d"))
        )
        == []
    )
    # Limit-bounded input: statically bounded, no suspect.
    assert (
        string_buffer_agg_suspects(
            d.orderBy("doc_id")
            .limit(5)
            .groupBy("source")
            .agg(F.min("lang").alias("m"))
        )
        == []
    )
    # min over a string is still CAUGHT when keyed and corpus-fed
    # (the entity-resolution shape -- measured saturating, but it
    # must surface to BE measured).
    sus = string_buffer_agg_suspects(
        d.groupBy("source").agg(F.min("lang").alias("m"))
    )
    assert [(f, k) for f, k, _ in sus] == [("min(lang)", "source")]


def test_unresolved_leaf_observability(spark, sf_dir):
    """_leaf_source_names falls back to regexing the node string; a
    leaf that resolves to nothing would be silently unguarded (ADVICE
    r9).  unresolved_corpus_leaves makes the blind spot observable:
    file scans and known in-memory kinds resolve/pass, and a leaf kind
    outside the benign set is REPORTED (detection path proven by
    shrinking the benign set)."""
    from pyspark.sql import functions as F

    from etl_onprem_to_cloud_spark.plans import checks as C

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert C.unresolved_corpus_leaves(li.groupBy("l_returnflag").count()) == []

    local = spark.createDataFrame([(1,)], "a: int").crossJoin(
        li.agg(F.count(F.lit(1)).alias("n"))
    )
    assert C.unresolved_corpus_leaves(local) == []

    # Detection path: with the benign set emptied, the same in-memory
    # leaf must be reported -- proving non-benign kinds are not
    # silently swallowed.
    orig = C._BENIGN_LEAVES
    try:
        C._BENIGN_LEAVES = frozenset()
        assert C.unresolved_corpus_leaves(local) != []
    finally:
        C._BENIGN_LEAVES = orig


def _path_to_checkpoint_scan(node):
    """Node names from ``node`` down to the first checkpoint scan
    (``Scan ExistingRDD``), descending through AQE's stage wrappers."""
    name = node.nodeName()
    if "ExistingRDD" in name:
        return [name]
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [node.plan()]
    else:
        it = node.children().iterator()
        kids = []
        while it.hasNext():
            kids.append(it.next())
    for kid in kids:
        path = _path_to_checkpoint_scan(kid)
        if path is not None:
            return [name, *path]
    return None


def test_ckpt_partitioned_skips_exchange_on_checkpointed_side(spark):
    """``layout.ckpt_partitioned`` stores its hash layout where the
    planner can see it: a join on the key streams the checkpoint with
    no Exchange, while a plain localCheckpoint (which under AQE forgets
    its layout) is re-shuffled.  The iterative graph loops rely on this
    to shuffle only their changing side each round.  The helper must
    leave the session's AQE setting as it found it."""
    from pyspark.sql import functions as F

    from etl_onprem_to_cloud_spark.operators.layout import ckpt_partitioned

    edges = spark.range(0, 2000).select(
        F.col("id").alias("src"), (F.col("id") % 100).alias("dst")
    )
    labels = spark.range(0, 100).select(
        F.col("id").alias("node"), F.col("id").alias("component")
    )
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    partitioned = ckpt_partitioned(edges, "dst")
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    plain = edges.localCheckpoint(eager=True)

    def checkpoint_side(e):
        j = e.join(labels.hint("shuffle_hash"), e.dst == labels.node)
        assert len(j.collect()) == 2000
        path = _path_to_checkpoint_scan(j._jdf.queryExecution().executedPlan())
        assert path is not None and "ShuffledHashJoin" in path, path
        return path[path.index("ShuffledHashJoin"):]

    assert not any("Exchange" in n for n in checkpoint_side(partitioned))
    assert any("Exchange" in n for n in checkpoint_side(plain))
