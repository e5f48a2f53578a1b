"""Physical-plan shape regression tests: the 100 TB story, enforced.

These assert the *executed plan* keeps the properties that make each
operator scale — pushed filters, broadcast dimension joins, cached
self-join subtrees, top-k window-group-limit pushdown, and the absence of
accidental cartesian products or sort-merge fallbacks.  A refactor that
silently loses one of these still passes the value oracles; this suite is
what catches it.
"""

from __future__ import annotations

import re

import pytest

from odni_apache_beam_consumer_spark.caches import Caches
from odni_apache_beam_consumer_spark.plans.registry import all_queries


def formatted_plan(spark, name: str, sf_dir: str) -> str:
    df = all_queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.mark.parametrize(
    "name",
    [
        "scan_filter_project",
        "inner_join",
        "multi_join_star",
        "dedup_minhash",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "cosine_topk",
        "ann_lsh_topk",
        "ann_ivf_topk",
        "topk_per_group",
    ],
)
def test_no_cartesian_product(spark, sf_dir, name):
    assert "CartesianProduct" not in formatted_plan(spark, name, sf_dir)


def test_scan_pushdown_and_pruning(spark, sf_dir):
    plan = formatted_plan(spark, "scan_filter_project", sf_dir)
    m = re.search(r"PushedFilters: \[([^\]]+)\]", plan)
    assert m and m.group(1).strip(), "filters must reach the parquet scan"
    m = re.search(r"ReadSchema: struct<([^>]+)>", plan)
    assert m, "no ReadSchema in plan"
    # 6-column projection of the 16-column lineitem table must be pruned.
    assert len(m.group(1).split(",")) <= 7, f"column pruning lost: {m.group(1)}"


@pytest.mark.parametrize("name", ["inner_join", "multi_join_star"])
def test_dimension_joins_broadcast(spark, sf_dir, name):
    plan = formatted_plan(spark, name, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # no fact-side shuffle at these sizes


@pytest.mark.parametrize("name", ["dedup_minhash", "dedup_simhash", "dedup_ngram_jaccard"])
def test_dedup_self_join_inputs_cached(spark, sf_dir, name):
    """Both self-join sides must read ONE cached materialization of the
    signature pipeline, not recompute it per side."""
    plan = formatted_plan(spark, name, sf_dir)
    assert plan.count("InMemoryTableScan") >= 2, "self-join sides not cache-backed"


@pytest.mark.parametrize("name", ["cosine_topk", "ann_lsh_topk", "ann_ivf_topk", "topk_per_group"])
def test_topk_uses_window_group_limit(spark, sf_dir, name):
    """row_number()<=k must plan as WindowGroupLimit (per-partition top-k
    pruning before the window sort), never a full global sort."""
    assert "WindowGroupLimit" in formatted_plan(spark, name, sf_dir)


@pytest.mark.parametrize("name", ["ann_lsh_topk", "ann_ivf_topk"])
def test_ann_candidates_are_equi_joins(spark, sf_dir, name):
    """The ANN scale path: candidate generation must be a hash equi-join
    on the bucket/cell key (the exact cosine_topk baseline is the only
    operator allowed a broadcast cross product)."""
    assert "BroadcastHashJoin" in formatted_plan(spark, name, sf_dir)


@pytest.mark.parametrize(
    "name",
    [
        "tfidf_top_terms",
        "pmi_bigrams",
        "outlier_iqr_filter",
        "time_gapfill_minutes",
        "funnel_stages",
        "cdc_merge_upsert",
        "session_paths",
    ],
)
def test_analytics_no_cartesian_product(spark, sf_dir, name):
    """Cross joins in the analytics pack are single-row broadcast attaches
    (corpus totals); a real CartesianProduct would be a scale bug."""
    assert "CartesianProduct" not in formatted_plan(spark, name, sf_dir)


@pytest.mark.parametrize("name", ["tfidf_top_terms", "pmi_bigrams", "outlier_iqr_filter"])
def test_analytics_dimension_joins_broadcast(spark, sf_dir, name):
    """The vocabulary / quartile side of each join is dimension-sized and
    must broadcast — a sort-merge fallback would shuffle the fact side."""
    assert "BroadcastHashJoin" in formatted_plan(spark, name, sf_dir)


@pytest.mark.parametrize("name", ["tfidf_top_terms", "pmi_bigrams"])
def test_analytics_topk_avoids_global_sort(spark, sf_dir, name):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    heaps), never a full global Sort of the scored set."""
    assert "TakeOrderedAndProject" in formatted_plan(spark, name, sf_dir)


def test_cdc_merge_single_shuffle(spark, sf_dir):
    """Merge-on-read upsert: union + keep-latest must cost exactly one
    hash exchange (on the merge key) — a second exchange means the union
    or window lost the co-partitioning."""
    plan = formatted_plan(spark, "cdc_merge_upsert", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan


def test_gapfill_scan_pushes_ts_filter(spark, sf_dir):
    """The 6-hour slice predicate must reach the events scan (at scale
    this is the partition-pruning predicate)."""
    plan = formatted_plan(spark, "time_gapfill_minutes", sf_dir)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m is not None and "ts" in plan, "ts predicate missing from scan"


@pytest.mark.parametrize(
    "name",
    [
        "q5_local_supplier_volume",
        "q8_market_share",
        "q16_supplier_part_buckets",
        "q22_dormant_customers",
        "q3_shipping_priority",
        "q7_nation_volume",
        "q10_returned_items",
        "q17_small_quantity_revenue",
        "q18_large_volume_customers",
        "q21_sole_return_supplier",
    ],
)
def test_tpch_shapes_broadcast_no_cartesian(spark, sf_dir, name):
    """The TPC-H composites must keep the star shape: broadcast dimension
    chains, no cartesian products (the scalar-average attach in Q22 is a
    single-row broadcast nested loop, not a CartesianProduct)."""
    plan = formatted_plan(spark, name, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# training-data pack (plans/training.py)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("name", ["doc_chunking", "pii_scrub_stats"])
def test_training_map_only_zero_shuffles(spark, sf_dir, name):
    """Chunking and scrubbing must stay map-only: one codegen span over
    the scan, no Exchange anywhere."""
    plan = formatted_plan(spark, name, sf_dir)
    assert "Exchange" not in plan, plan
    assert "struct<doc_id:bigint,text:string>" in plan  # column-pruned scan


def test_sequence_packing_single_shuffle(spark, sf_dir):
    """Packing shuffles once on (lang, shard) for the window; the bin
    groupBy must reuse that clustering (no second full exchange)."""
    plan = formatted_plan(spark, "sequence_packing", sf_dir)
    n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchange == 1, plan


def test_repetition_filter_no_raw_explode_shuffle(spark, sf_dir):
    """The exploded token stream must be partially aggregated before any
    exchange: HashAggregate appears below the first Exchange."""
    plan = formatted_plan(spark, "repetition_filter", sf_dir)
    assert "CartesianProduct" not in plan
    # Tree adjacency: the map-side partial aggregate sits directly on the
    # explode, so only (doc_id, tok, partial count) rows cross the wire.
    assert re.search(r"HashAggregate \(\d+\)\s*\n\s*\+- Generate", plan), plan
    assert "partial_count" in plan, plan
    # Doc-level join stays broadcast (no sort-merge of the two doc sides).
    assert "BroadcastHashJoin" in plan, plan


def test_embedding_quantize_map_only(spark, sf_dir):
    """int8 quantization is a pure array-expression pipeline: no Exchange,
    scan pruned to (vec_id, embedding)."""
    plan = formatted_plan(spark, "embedding_quantize", sf_dir)
    assert "Exchange" not in plan, plan
    assert "embedding:array<float>" in plan, plan


def test_domain_mixture_broadcast_threshold(spark, sf_dir):
    """The per-source threshold table joins back by broadcast — the corpus
    side never shuffles for the acceptance filter."""
    plan = formatted_plan(spark, "domain_mixture_sample", sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["q3_shipping_priority", "q10_returned_items"])
def test_tpch_topk_avoids_global_sort(spark, sf_dir, name):
    """Q3/Q10's ORDER BY + LIMIT must compile to TakeOrderedAndProject —
    never a full global Sort materialization before the limit."""
    plan = formatted_plan(spark, name, sf_dir)
    assert "TakeOrderedAndProject" in plan, plan


def test_classifier_scoring_map_only(spark, sf_dir):
    """Linear-model scoring is a pure fold over the embedding array: no
    Exchange, no Python runner, scan pruned to the three used columns."""
    plan = formatted_plan(spark, "classifier_quality_filter", sf_dir)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "embedding:array<float>" in plan, plan


def test_normalize_dedup_single_exchange(spark, sf_dir):
    """Normalization fuses into the scan; the only exchange is the final
    hash-aggregate on the normalized content hash."""
    plan = formatted_plan(spark, "text_normalize_dedup", sf_dir)
    n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchange == 1, plan
    assert "partial_min" in plan or "partial" in plan, plan


def test_jaccard_estimate_broadcasts_pairs_and_caches(spark, sf_dir):
    """The sketch-accuracy audit must broadcast the (tiny) candidate-pair
    set into the intersection joins and reuse the persisted shingle /
    signature tables rather than recomputing them per join side."""
    plan = formatted_plan(spark, "minhash_jaccard_estimate", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_cogroup_attribution_two_exchanges_python_cogroup(spark, sf_dir):
    """The cogrouped-applyInPandas attribution: exactly one exchange per
    input side (hash on user_id), then the Python cogroup — a third
    exchange would mean the cogroup lost the co-partitioning."""
    plan = formatted_plan(spark, "view_purchase_attribution", sf_dir)
    assert "FlatMapCoGroupsInPandas" in plan, plan
    n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchange == 2, plan


def test_udtf_runs_in_scan_stage_no_shuffle(spark, sf_dir):
    """The Python UDTF lateral join introduces no exchange — it evaluates
    per input row inside the scan stage."""
    plan = formatted_plan(spark, "udtf_sentence_split", sf_dir)
    assert "Exchange" not in plan, plan


def test_token_entropy_map_only(spark, sf_dir):
    """Entropy is array-side arithmetic over the token list: no Exchange,
    no Python runner — one scan stage end to end."""
    plan = formatted_plan(spark, "token_entropy", sf_dir)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_semantic_dedup_broadcast_and_cached_assignment(spark, sf_dir):
    """SemDeDup shape: centroids broadcast into the assignment (never a
    shuffled join of the corpus against centroids), and the assigned table
    persisted so the within-cluster self-join reads one materialization."""
    plan = formatted_plan(spark, "semantic_dedup", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_keep_best_single_exchange(spark, sf_dir):
    """Canonical-selection is one shuffle on the content hash; the
    survivor pick must not add a second exchange."""
    plan = formatted_plan(spark, "dedup_keep_best", sf_dir)
    n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchange == 1, plan


def test_ngram_coverage_caches_doc_grams_and_broadcasts_common(spark, sf_dir):
    """The (doc, gram) table is persisted (DF count + coverage join read
    one materialization) and the common-gram list is broadcast back."""
    plan = formatted_plan(spark, "common_ngram_coverage", sf_dir)
    assert "InMemoryTableScan" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_pagerank_reuses_persisted_edges(spark, sf_dir):
    """The symmetrized edge list must be persisted (degree count and
    contribution join read one materialization) with no cartesian."""
    plan = formatted_plan(spark, "pagerank_one_step", sf_dir)
    assert "CartesianProduct" not in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_frame_sample_single_python_stage(spark, sf_dir):
    """Frame sampling is one mapInPandas fan-out in the scan stage —
    no Exchange before or after the Python stage."""
    plan = formatted_plan(spark, "multimodal_frame_sample", sf_dir)
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan


def test_ohlc_single_hash_aggregate(spark, sf_dir):
    """OHLC bars are ONE hash aggregate (min_by/max_by with a fixed-width
    BIGINT ordering key) — a string key would degrade the whole plan to
    SortAggregate, which this test pins against."""
    plan = formatted_plan(spark, "ohlc_bars", sf_dir)
    n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchange == 1, plan
    assert "HashAggregate" in plan, plan
    assert "SortAggregate" not in plan, plan


def test_dq_fk_check_broadcast_anti(spark, sf_dir):
    """The referential-integrity check must be a broadcast anti-join of
    fact rows against the key side, never a shuffled join."""
    plan = formatted_plan(spark, "dq_expectations", sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


# ---------------------------------------------------------------------------
# TPC-H completion pack (plans/tpch2.py)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    [
        "q2_min_cost_supplier",
        "q4_order_priority",
        "q9_product_type_profit",
        "q11_important_stock",
        "q12_ship_priority_buckets",
        "q14_promo_effect",
        "q19_disjunctive_revenue",
        "q20_promo_part_suppliers",
    ],
)
def test_tpch2_shapes_broadcast_no_cartesian(spark, sf_dir, name):
    """The completion-pack queries keep the same star discipline as the
    first TPC-H batch: dimension chains broadcast, never cartesian."""
    plan = formatted_plan(spark, name, sf_dir)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q4_semi_join_not_distinct(spark, sf_dir):
    """EXISTS must plan as a semi join (each order emitted at most once
    join-side), not an inner join + Distinct — the distinct would add a
    full extra exchange on the fact output at scale."""
    plan = formatted_plan(spark, "q4_order_priority", sf_dir)
    assert "LeftSemi" in plan, plan
    assert "Distinct" not in plan, plan


def test_q13_preserves_outer_join(spark, sf_dir):
    """Q13's ON-clause filter must NOT collapse the outer join to inner:
    zero-order customers are the histogram's 0-bucket."""
    plan = formatted_plan(spark, "q13_customer_distribution", sf_dir)
    assert "LeftOuter" in plan or "RightOuter" in plan, plan


def test_q19_pushes_common_filters_to_part_scan(spark, sf_dir):
    """Catalyst must extract the brand IN (...) common factor from the
    3-branch disjunction and push it into the part scan so the broadcast
    side ships pruned."""
    plan = formatted_plan(spark, "q19_disjunctive_revenue", sf_dir)
    m = re.search(r"PushedFilters: \[([^\]]*p_brand[^\]]*)\]", plan)
    assert m, plan


def test_q11_reuses_persisted_aggregate(spark, sf_dir):
    """The per-part value aggregate feeds both the threshold scalar and
    the output filter — it must be computed once.  No persist (which
    leaked a cached DataFrame into the shared session): both branches are
    the identical canonicalized subtree, so AQE reuses the shuffle
    exchange.  Reuse materializes at runtime, so assert on the executed
    plan, not the initial one.  Pinned to sf0.01: at sf0.001 the
    NATION_7 supplier set is empty and AQE collapses the whole plan to
    EmptyRelation — no exchanges left to reuse."""
    df = all_queries()["q11_important_stock"](spark, "/root/testdata/sf0.01")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan
    assert "InMemoryTableScan" not in plan, plan


def test_interval_overlap_join_is_binned_equi_join(spark, sf_dir):
    """The no-equi-key interval join must run as a hash equi-join on the
    time bin — never the quadratic BroadcastNestedLoopJoin a naive
    overlap predicate plans to."""
    plan = formatted_plan(spark, "interval_overlap_join", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sql_front_door_matches_dataframe_plan(spark, sf_dir):
    """register_views + raw spark.sql must produce the same results (and
    the same broadcast star shape) as the DataFrame API — SQL is a front
    door, not a second engine."""
    from odni_apache_beam_consumer_spark.catalog import register_views

    register_views(spark, sf_dir)
    got = spark.sql(
        """
        SELECT n_name, ROUND(SUM(o_totalprice), 2) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )
    from odni_apache_beam_consumer_spark.catalog import load_table
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    df = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))
    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" in plan


def test_no_accidental_cartesian_or_nlj_fleet_wide(spark):
    """Fleet-wide plan-quality gate: NO registered query may plan a
    CartesianProduct, and BroadcastNestedLoopJoin is allowed only for the
    documented deliberate broadcast-cross shapes (a tiny broadcast side —
    scalar threshold, centroid table, broadcast query set — crossed into
    a scan; bounded by the broadcast size, safe at any corpus scale).
    A new query accidentally planning a quadratic join fails here before
    it ever reaches a large input."""
    from odni_apache_beam_consumer_spark.plans.registry import all_queries

    # name -> why the NLJ is intentional
    nlj_whitelist = {
        "cosine_topk": "exact baseline: broadcast query set x corpus scan",
        "ann_ivf_topk": "broadcast centroid (quantizer) table x corpus",
        "ann_ivfpq_topk": "broadcast centroid (quantizer) table x corpus + queries",
        "kmeans_one_step": "broadcast k-row centroid table x corpus",
        "q11_important_stock": "broadcast 1-row threshold scalar",
        "q22_dormant_customers": "broadcast 1-row avg-balance scalar",
        "dq_expectations": "broadcast 1-row expectation scalars",
        "tfidf_top_terms": "broadcast 1-row corpus-size scalar",
        "pmi_bigrams": "broadcast 1-row total-count scalars",
        "semantic_dedup": "broadcast quantizer table x corpus",
        "hard_negative_mining": "broadcast anchor set x corpus (ANN path)",
        "skew_diagnostics": "broadcast 1-row totals scalar over key counts",
        "basket_association_rules": "broadcast 1-row basket-count scalar",
        "daily_revenue_anomalies": "broadcast 1-row mean/stddev scalar",
        "ann_recall_audit": "exact-baseline half: broadcast query set x corpus",
        "bm25_topk": "broadcast 1-row corpus-stats scalar (N, avg len)",
        "recency_weighted_engagement": "broadcast 1-row max-date anchor",
        "calibration_bins": "broadcast 1-row score min/max bounds",
        "zorder_clustering_audit": "broadcast 1-row key-bounds scalar",
        "join_cardinality_estimate": "broadcast 1-row exact-audit scalar x 3-row sketch dots",
        "mixture_rebalance_plan": "broadcast 1-row corpus-total scalar x 5-row policy",
        "benford_digit_audit": "broadcast 1-row total scalar x digit stream",
        "cusum_changepoint": "broadcast 1-row mean + 1-row peak over the day series",
        "bpe_train": "broadcast 1-row argmax pair + 1-row vocab count per round",
        "unigram_lm_train": "broadcast 1-row piece-cost map + 1-row total per round",
        "ngram_lm_perplexity_filter": "broadcast 1-row model maps + vocab scalar",
        "doremi_domain_reweight": "broadcast 1-row shard-mean + weight-sum scalars per MW step (domains-sized frame)",
        "unigram_lm_apply": "broadcast 1-row piece-cost map (train + apply)",
        "wordpiece_apply": "broadcast 1-row init/cont piece maps (train + greedy apply)",
        "tokenizer_fertility_audit": "broadcast 1-row piece maps + 1-row divergence scalar",
        "dirichlet_lm_topk": "broadcast probe-sized ctf + 1-row corpus-len scalar",
        "t_closeness_audit": "broadcast ~6-row global bucket dist + 1-row total",
        "cohens_kappa_agreement": "broadcast 1-row pe scalar onto 1-row totals",
        "chi2_token_class_assoc": "broadcast 1-row corpus-size scalar x vocab table",
        "kaplan_meier_survival": "broadcast 1-row horizon (max ts) scalar",
        "logrank_test": "broadcast 1-row horizon (max ts) scalar (KM construction per arm)",
        "hellinger_lang_drift": "broadcast 1-row corpus-total scalar x vocab table",
        "cuped_variance_reduction": "broadcast 1-row pooled-moments scalar x 2-row arms",
        "ipf_raking_weights": "broadcast 1-row total/group-count scalars x 25-cell table",
        "decision_tree_histogram_train": "broadcast 1-row root-split scalar x row stream (level-2 node assignment)",
        "naive_bayes_train": "broadcast 5-row lang-stats table (+1-row vocab/doc scalars) x per-doc table",
        "gbdt_stump_boost": "broadcast 1-row fitted-stump scalar x row stream per boosting round",
        "gbdt_logit_boost": "broadcast 1-row fitted-stump scalar x row stream per boosting round",
        "permutation_test_mean_diff": "broadcast 1-row observed-statistic scalar x 32-row permutation stats",
        "poststratified_effect": "broadcast 1-row population-total scalar x ~10-row stratum table",
        "theil_sen_trend": "broadcast 1-row sign-count scalar x 1-row median row",
        "bh_fdr_token_selection": "broadcast 1-row corpus-size scalar + 1-row step-up cutoff x vocab table",
        "bias_baseline_recommender": "broadcast 1-row global-mean scalar x item/user bias tables",
        "poisson_bootstrap_ci": "broadcast 1-row lo/hi order statistics x 1-row point estimate",
        "ks_two_sample_test": "broadcast 1-row arm-total scalar x bounded value-axis cum table",
        "cramers_v_association": "broadcast 1-row N/r/c scalar x 1-row cell-sum fold",
        "modularity_brand_partition": "broadcast 1-row edge-total scalar x 25-row brand table",
        "isotonic_calibration_pav": "broadcast 1-row score bounds + 10-row bin table (bin-range PAV joins)",
        "nelson_aalen_hazard": "broadcast 1-row horizon (max ts) scalar (KM lifetime construction)",
    }
    # r14 (suite runtime, guide §2.6 overlap independent jobs): plan
    # construction is independent per query — 293 serial builds (several
    # with eager iterative sub-jobs) took 223 s; a small driver-side
    # thread pool overlaps the construction jobs.  Caches are cleared
    # once at the end instead of per query: the assertions below read
    # only the planned join strategy, which cache state cannot change.
    from concurrent.futures import ThreadPoolExecutor

    def check(item):
        name, fn = item
        df = fn(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            return name, "CartesianProduct"
        if "BroadcastNestedLoopJoin" in plan and name not in nlj_whitelist:
            return name, "unwhitelisted BroadcastNestedLoopJoin"
        return None

    with ThreadPoolExecutor(max_workers=8) as pool:
        offenders = dict(
            r for r in pool.map(check, all_queries().items()) if r
        )
    spark.catalog.clearCache()
    assert not offenders, offenders


def _lazy_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_similar_docs_topk_uses_window_group_limit(spark, sf_dir):
    """The per-doc top-3 cut must push below the window sort.  Asserted
    on the lazy builder: the public query eagerly checkpoints (cache
    stewardship), which replaces the returned plan with an RDD scan."""
    from odni_apache_beam_consumer_spark.plans.curation import (
        _similar_docs_topk_lazy,
    )

    with Caches() as caches:
        out = _similar_docs_topk_lazy(spark, sf_dir, caches)
        assert "WindowGroupLimit" in _lazy_plan(spark, out)


def test_quantile_binning_broadcasts_boundaries(spark, sf_dir):
    """Boundary table is category-sized -> must broadcast; the fact scan
    stays map-side (no shuffle on a row key)."""
    plan = formatted_plan(spark, "quantile_binning", sf_dir)
    assert "BroadcastHashJoin" in plan, plan


def test_point_in_time_join_is_keyed(spark, sf_dir):
    """The SCD2 temporal join must be an equi-join on the dimension key
    (interval predicate as residual), never a non-equi nested loop."""
    plan = formatted_plan(spark, "point_in_time_join", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), plan


def test_skew_diagnostics_uses_take_ordered(spark, sf_dir):
    """Top-10 hottest keys must be TakeOrdered (partial per-partition
    top-k), never a global sort of the key-count table."""
    plan = formatted_plan(spark, "skew_diagnostics", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan


def test_method_comparison_reads_cached_member_pair_sets(spark, sf_dir):
    """dedup_method_comparison feeds each member pair set to two
    consumers (its count + the intersect); both branches must read the
    persisted materialization, not re-run the member pipelines (which
    made it round-3's slowest bench query at 2x its irreducible cost).
    Four InMemoryTableScans: minhash-count, simhash-count, and the two
    intersect inputs.  Asserted on the lazy builder: the public query
    eagerly checkpoints its 3-row result (cache stewardship)."""
    from odni_apache_beam_consumer_spark.plans.llm import _method_comparison_lazy

    with Caches() as caches:
        out = _method_comparison_lazy(spark, sf_dir, caches)
        plan = _lazy_plan(spark, out)
        assert plan.count("InMemoryTableScan") >= 4, plan


def test_similar_docs_topk_reads_cached_pairs_on_both_union_branches(
    spark, sf_dir
):
    """similar_docs_topk symmetrizes the pair set through a union that
    consumes it twice; both branches must read the persisted pair table
    so the inverted-index join + groupBy run once."""
    from odni_apache_beam_consumer_spark.plans.curation import (
        _similar_docs_topk_lazy,
    )

    with Caches() as caches:
        out = _similar_docs_topk_lazy(spark, sf_dir, caches)
        plan = _lazy_plan(spark, out)
        assert plan.count("InMemoryTableScan") >= 2, plan


@pytest.mark.slow
def test_method_comparison_and_similar_docs_release_their_caches(
    spark, sf_dir
):
    """The public query wrappers checkpoint their result and release
    EVERY Dataset-level persist (the member pair sets plus the
    operator-internal band/sig/shingle tables, all registered in one
    ``Caches`` owner) before returning: Dataset persists live in the
    CacheManager with strong references and never drain via GC, so
    pre-fix each invocation pinned 5 more cached tables forever.
    Post-fix the only residue is the most recent localCheckpoint block,
    which the ContextCleaner reclaims once a later query displaces it —
    so the persisted-RDD count must stay BOUNDED across repeated
    invocations instead of growing ~5 per call."""
    import gc
    import time

    from odni_apache_beam_consumer_spark.plans.registry import all_queries

    q = all_queries()

    def n_persisted() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = n_persisted()
    for _ in range(3):
        q["dedup_method_comparison"](spark, sf_dir).count()
        q["similar_docs_topk"](spark, sf_dir).count()
    # Steady state: at most the two most recent checkpoint blocks — and
    # critically, NOT increasing with iteration count (pre-fix: 5/call).
    # localCheckpoint blocks drain ASYNCHRONOUSLY via the ContextCleaner
    # after GC, so poll with a gc+sleep retry loop instead of asserting
    # immediately (a single gc.collect()+System.gc() is timing-dependent
    # on a loaded machine; pre-fix the Dataset-level persists are pinned
    # by the CacheManager and NEVER drain, so the deadline distinguishes).
    deadline = time.time() + 60
    while n_persisted() > base + 2 and time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    assert n_persisted() <= base + 2, n_persisted()


def test_skyline_local_front_before_global_window(spark, sf_dir):
    """Distributive skyline: the windows over the full `part` scan must be
    bucket-partitioned (parallel local Pareto fronts); the unpartitioned
    stage-2 window may only consume local-front survivors, so the
    SinglePartition exchange must appear AFTER the bucketed pass — never
    directly over the scan (the round-7 verdict's single-task-sort killer)."""
    plan = formatted_plan(spark, "skyline_pareto_front", sf_dir)
    assert "hashpartitioning(bucket" in plan, plan
    assert "SinglePartition" in plan, plan
    assert plan.index("hashpartitioning(bucket") < plan.index("SinglePartition"), plan


def test_packing_sweep_single_window_pass_with_expand(spark, sf_dir):
    """All budgets are measured from ONE prefix-sum window pass: the
    multi-COUNT(DISTINCT) plans as a single Expand over the shared
    window output — no per-budget repacking, exactly one Window."""
    plan = formatted_plan(spark, "packing_efficiency_sweep", sf_dir)
    assert plan.count("Window") >= 1, plan
    assert "Expand" in plan, plan
    # one window shuffle on (lang, shard); the expand aggregation adds
    # its own exchanges but there must be no second Window pass
    assert plan.count("(4) Window") <= 1 or plan.count("Window [") <= 1, plan


def test_weighted_sample_uses_window_group_limit(spark, sf_dir):
    """Top-5-per-lang must push the limit below the sort (WindowGroupLimit),
    never materialize a full per-lang ordering."""
    plan = formatted_plan(spark, "weighted_sample_per_lang", sf_dir)
    assert "WindowGroupLimit" in plan, plan


def test_embedding_dimension_stats_partial_aggregates(spark, sf_dir):
    """The 64-group stats must partial-aggregate before the exchange
    (map-side collapse to 64 rows per partition) and read only the
    embedding column."""
    plan = formatted_plan(spark, "embedding_dimension_stats", sf_dir)
    assert "partial" in plan.lower(), plan
    assert "ReadSchema" in plan and "embedding" in plan, plan
    assert "vec_id" not in plan.split("ReadSchema")[1][:200], plan


def test_bloom_dedup_broadcast_probes_no_batch_shuffle_for_probe(spark, sf_dir):
    """The bloom probe must be broadcast joins (<=1024-row bitmap) — the
    incoming batch is never exchanged to test membership; only the
    maybe-branch carries into the exact anti join."""
    plan = formatted_plan(spark, "bloom_prefilter_dedup", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 4, plan  # 2 probes x 2 branches
    assert "CartesianProduct" not in plan, plan


def test_declared_pivot_single_scan_single_agg_pass(spark, sf_dir):
    """Pivot with DECLARED values must not run the undeclared-pivot
    distinct-collect pre-job: one scan of events (pivotfirst over the
    (day, type) counts, no separate distinct job)."""
    import re

    plan = formatted_plan(spark, "daily_event_type_pivot", sf_dir)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert "pivotfirst" in plan or "pivot_first" in plan, plan


def test_event_trigram_mining_take_ordered(spark, sf_dir):
    """Global top-20 must be TakeOrdered over the 125-group count table,
    never a global sort; the two LEADs share one window pass."""
    import re

    plan = formatted_plan(spark, "event_trigram_mining", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan


def test_monthly_growth_window_after_collapse(spark, sf_dir):
    """The unpartitioned LAG window must consume the month-grain
    aggregate (its input columns are (month, rev_cents)), never the raw
    fact rows."""
    import re

    plan = formatted_plan(spark, "monthly_revenue_growth", sf_dir)
    m = re.search(r"\(\d+\) Window\nInput \[2\]: \[month#\d+, rev_cents#\d+L\]", plan)
    assert m, plan


def test_gram_matrix_map_side_fanout_single_exchange(spark, sf_dir):
    """The upper-triangle product fan-out must be generator-only
    (map-side double posexplode, NO self-join) with exactly one
    partial-aggregated exchange carrying <=2080 groups."""
    import re

    plan = formatted_plan(spark, "embedding_gram_matrix", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "partial" in plan.lower(), plan


def test_ngram_lm_scoring_pass_broadcast_hash_joins(spark, sf_dir):
    """The perplexity SCORING pass must probe the model through
    broadcast HASH joins and partial-aggregate map-side: (a) no
    BroadcastNestedLoopJoin anywhere (the first cut probed 1-row map
    columns — GetMapValue is a linear scan per lookup, which
    benchmarked at the LINEAR envelope at 300x); (b) exactly one
    doc_id hash exchange (the final per-doc sum), with a partial
    HashAggregate below it so only per-doc rows cross the wire."""
    plan = formatted_plan(spark, "ngram_lm_perplexity_filter", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert plan.count("hashpartitioning(doc_id") == 1, plan
    # partial agg directly over the joined bigram stream (map-side):
    # a HashAggregate with partial_count/partial_sum must exist.
    assert re.search(r"partial_(count|sum)", plan), plan


def test_doremi_loss_pass_broadcast_hash_join_single_exchange(spark, sf_dir):
    """DoReMi's corpus-sized half (the per-(domain, shard) loss table)
    must follow the same scoring-pass discipline as the perplexity
    filter: the unigram model is probed through a broadcast HASH join
    (no NLJ — GetMapValue map-column probes are linear scans), and the
    token stream partial-aggregates map-side into exactly ONE
    (lang, shard) hash exchange.  The final query's plan hides this
    behind a localCheckpoint, so the un-checkpointed lineage is pinned
    here directly."""
    from odni_apache_beam_consumer_spark.plans.curation import (
        _doremi_loss_frames,
    )

    with Caches() as caches:
        loss, _, _ = _doremi_loss_frames(spark, sf_dir, caches)
        plan = _lazy_plan(spark, loss)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("hashpartitioning(lang") == 1, plan
    assert re.search(r"partial_(count|sum)", plan), plan


def test_feature_hashing_single_exchange_and_invariants(spark, sf_dir):
    """The hashing trick is one map-side hash pass + one (doc, bucket)
    aggregation: exactly one Exchange, no Join, scan pruned to
    (doc_id, text).  Value invariants: buckets in [0, 256), |feat| <=
    n_terms with matching parity (each term contributes exactly +/-1),
    and at least one real collision (n_terms > 1) — collisions ARE the
    semantics the oracle replays."""
    plan = formatted_plan(spark, "feature_hashing", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "struct<doc_id:bigint,text:string>" in plan, plan
    rows = all_queries()["feature_hashing"](spark, sf_dir).collect()
    assert rows
    assert any(r.n_terms > 1 for r in rows)
    for r in rows:
        assert 0 <= r.bucket < 256
        assert abs(r.feat) <= r.n_terms
        assert (r.feat - r.n_terms) % 2 == 0


def test_lsh_band_tradeoff_monotone(spark, sf_dir):
    """The banding audit must exhibit the S-curve monotonicity that
    makes it a tuning table: candidate volume strictly shrinks as
    rows-per-band grows (stricter collision requirement), precision is
    non-decreasing, the truth set is non-empty, and every config's
    candidates contain at most the r=1 volume (any-slot collision is
    the weakest gate)."""
    rows = {
        r.rows_per_band: r
        for r in all_queries()["lsh_band_tradeoff_audit"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1].n_true_total > 0
    for r in (2, 3, 4):
        assert rows[r].n_candidates <= rows[r - 1].n_candidates
        assert rows[r].precision_ppm >= rows[r - 1].precision_ppm
    # the weakest gate must be STRICTLY noisier than the strictest
    assert rows[4].n_candidates < rows[1].n_candidates
    assert rows[4].precision_ppm > rows[1].precision_ppm


def test_exact_substring_spans_two_linear_exchanges(spark, sf_dir):
    """The suffix-array-grade tabulation must stay at exactly its two
    designed exchanges (hash-partition by k-gram hash for the occurrence
    window, by doc for the island merge) plus the top-k heap — a
    group-then-join-back rewrite would add a third full-table exchange,
    and any pairwise form would show a join of the exploded stream
    against itself."""
    plan = formatted_plan(spark, "exact_substring_spans", sf_dir)
    # spread()'s round-robin guard on the single-split fixture adds one
    # non-keyed exchange (a no-op at real scale); the KEYED exchanges —
    # the ones that move data by content — must be exactly the two.
    n_hash = len(re.findall(r"Arguments: hashpartitioning", plan))
    assert n_hash == 2, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan


def test_gopher_rules_map_only_no_explode(spark, sf_dir):
    """The rule flags must fold inside one higher-order-function
    projection: no Generate (explode) node — the token stream never
    becomes rows — and exactly ONE exchange (the lang-keyed agg with
    map-side partials)."""
    plan = formatted_plan(spark, "gopher_quality_rules", sf_dir)
    assert "Generate" not in plan, plan
    # one keyed exchange (lang agg); spread()'s fixture round-robin is
    # the only other, and it is a no-op at real scale
    n_hash = len(re.findall(r"Arguments: hashpartitioning", plan))
    assert n_hash == 1, plan


def test_exact_substring_removal_bounded_exchanges(spark, sf_dir):
    """Detection tabulation (2 linear exchanges) + the doc-keyed
    budget join + lang agg: the whole removal-budget plan stays within
    4 exchanges and the join back to documents carries per-doc integer
    totals, never the exploded position stream (no second Generate
    consumer past the window)."""
    plan = formatted_plan(spark, "exact_substring_removal_stats", sf_dir)
    n_exchange = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchange <= 5, plan
    assert "CartesianProduct" not in plan, plan
