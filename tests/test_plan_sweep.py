"""Global anti-pattern sweep: EVERY registry query's physical plan is
checked for the things that kill a 100 TB run — unbatched Python UDF rows
(BatchEvalPython) anywhere, unintentional CartesianProduct (a
non-broadcast cross join shuffles n*m rows), and Python-RDD scans (a
driver-built table that sends every job touching it through a Python
worker; functions/lits.local_table builds such tables). Broadcast cross
joins of 1-row scalar frames / tiny dims are the documented intentional
pattern (DESIGN.md §3) and appear as BroadcastNestedLoopJoin, which is
allowed only for the whitelisted queries below."""

import pytest

from pyspark_etl_twitter_spark.plans.registry import QUERIES
from tests.conftest import SF_TINY

# queries whose plan legitimately contains BroadcastNestedLoopJoin:
# broadcast-scalar cross joins (1-row frames) or tiny-dim theta joins
BNLJ_OK = {
    "range_join_price_bands",   # 5-band broadcast theta join (documented)
    "knn_brute_cosine",         # broadcast query side (documented baseline)
    "mmr_diversified_topk",     # same broadcast-query relevance scan feeds
                                # the pure-DataFrame greedy rerank stages
    "knn_sq8",                  # broadcast query side over dequantized codes
    "knn_ann_lsh",
    "knn_ann_lsh_high_recall",  # same probe shape as knn_ann_lsh
    "knn_ivf",
    "knn_ivf_trained",          # same 16-row centroid-dim cross join as knn_ivf
    "embedding_near_dup",
    "orders_above_avg",         # broadcast 1-row scalar
    "customers_above_nation_avg",
    "lm_quality_by_source",     # broadcast 1-row scalars (N, V, oov_logp)
    "calibrated_ppl_filter_by_source",  # same LM scalars + q25 map broadcast
    "oov_rate_by_source",
    "bigram_lm_quality_by_source",
    "trigram_lm_quality_by_source",  # same unigram 1-row (N, V) scalars
    "bm25_search_topk",         # broadcast 1-row (N, avgdl)
    "sentiment_classes",
    "sentiment_doc_scores",
    "sentiment_weights_head",
    "decontaminate_counts",
    "top_terms_per_doc",
    "semantic_near_dup_pairs",
    "semantic_dedup_survivors",
    "semantic_prune_by_centroid",
    "dedup_jaccard_pairs",
    "dedup_exact_summary",      # 1-row scalar compare
    "data_quality_lineitem",
    "epoch_shuffle_head",
    "doc_length_histogram",
    "curation_pipeline_counts",
    "pack_documents_2048",
    "pack_documents_salted_2048",
    "tpch_q8_market_share",     # broadcast 1-row year totals
    "tpch_q14_promo_effect",
    "tpch_q17_small_qty_revenue",
    "tpch_q22_dormant_customers",
    "graph_triangle_count",     # 1-row result of count agg
    "weighted_sample_by_length",
    "dedup_minhash_pairs",
    "dedup_simhash_fingerprints",
    "dedup_clusters_minhash",
    "embedding_norm_stats",
    "referential_integrity_audit",  # four 1-row orphan counts cross-joined
    # derived partsupp carries a 1-row broadcast supplier-count scalar
    # (plans/tpch.py:derived_partsupp); q11 adds the 1-row threshold join
    "tpch_q2_min_cost_supplier",
    "tpch_q11_important_stock",
    "tpch_q20_excess_stock",
    # with_global_rank's offset prefix-sum is a broadcast theta self-join
    # over O(shuffle partitions) count rows (operators/ranking.py) —
    # chosen over a global-window cumsum to keep Exchange SinglePartition
    # out of every rank-consumer plan
    "vocab_head",
    "encoded_docs",
    # 1-row percentile-boundary broadcast (equi-depth binning)
    "equidepth_price_deciles",
    # bloom bitmap ships as a single-row array<bigint> broadcast relation
    # (operators/curation.py:690) — same bounded shape as
    # decontaminate_counts' broadcast eval-set scalar
    "bloom_decontaminate_counts",
    # DSIR bucket-distribution totals ride as 1-row broadcast scalars
    # (operators/importance.py:_bucket_log_probs)
    "dsir_weights_by_source",
    "dsir_selected_counts",
    "dsir_gumbel_counts",
    # PMI totals (t_tok, t_bg) ride as a 1-row broadcast scalar frame
    "pmi_collocations_top",
    # broadcast query side over JL-reduced vectors — the knn_brute_cosine
    # shape at out_dim=16
    "knn_rp_topk",
    # broadcast query side + label filter — the knn_brute_cosine shape
    "hard_negatives_topk",
    # corpus-size 1-row scalar rides every anchor's draw generator
    "seeded_negatives_sample",
    # zero-fill digit frame: |groups| × 9-digit broadcast cross join —
    # both sides bounded by construction (statuses × Benford digits)
    "benford_order_prices",
}

# queries that EXECUTE during plan building (iterative/driver-bounded):
# sweeping them would run real jobs, they have their own plan tests
SKIP = {
    "kmeans_cluster_sizes",
    "dedup_clusters",
    "dedup_clusters_minhash",
    "dedup_keep_canonical",
    "semantic_dedup_survivors",
    "curation_pipeline_counts",
    "bucketed_join_revenue",    # writes bucketed tables during build
    "epoch_shuffle_head",       # bounded offset-table collect
    "knn_ann_lsh",              # derives n_planes via count action
    "knn_ivf",
    "embedding_near_dup",
    "dedup_minhash_pairs",      # star-guard count
    "semantic_near_dup_pairs",
    "dedup_incremental",
    "text_semantic_dedup_survivors",  # CC executes during plan build
    "semdedup_ivf_summary",    # build_ivf_index writes the index during build
    "bpe_tokens_by_source",    # bpe_train's bounded vocab collect executes
    "knn_pq_indexed",          # build_pq_code_table writes during build
    "knn_ivfpq_indexed",       # build_ivfpq_index writes during build
    "bpe_train_portable_merges",  # per-4-round localCheckpoints execute;
                                  # its 1-row best-pair broadcast is the
                                  # documented bounded-BNLJ scalar shape
    "ann_recall_report",          # builds the ivf/lsh/pq indexes during
                                  # plan build (r13: persisted probes)
    "ann_recall_planted",         # bounded 8-center collect + rung plan
                                  # builds execute bounded actions
    "dedup_incremental_minhash",  # build_minhash_index writes during build
    "dedup_minhash_maintenance",  # build+append+rebuild write during build
    "knn_ivf_rebalanced",         # build+append+rebalance write during build
    "leakage_safe_split_counts",  # duplicate_clusters CC executes in build
    "kcore_suppliers",            # per-3-round localCheckpoints execute
}


def _swept_plans(session, failures):
    """(name, queryExecution) of every swept registry query built under
    ``session``; build errors land in ``failures``."""
    for name, fn in QUERIES.items():
        if name in SKIP:
            continue
        try:
            yield name, fn(session, SF_TINY)._jdf.queryExecution()
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: plan build failed: {exc}")


def _has_python_rdd_leaf(qe) -> bool:
    """A ``LogicalRDD`` leaf whose lineage is a ``PythonRDD`` — by the
    lineage, not the node name: localCheckpoint scans are LogicalRDDs
    too, and legitimate."""
    plan = qe.analyzed()
    subs = plan.subqueriesAll()
    for tree in [plan] + [subs.apply(i) for i in range(subs.size())]:
        leaves = tree.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if (
                leaf.getClass().getSimpleName() == "LogicalRDD"
                and "PythonRDD" in leaf.rdd().toDebugString()
            ):
                return True
    return False


@pytest.mark.slow
def test_no_cartesian_or_python_udf_in_any_registry_plan(spark):
    failures = []
    for name, qe in _swept_plans(spark, failures):
        plan = qe.executedPlan().toString()
        if _has_python_rdd_leaf(qe):
            failures.append(f"{name}: Python-RDD scan in plan")
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct in plan")
        if "BatchEvalPython" in plan:
            failures.append(f"{name}: row-wise Python UDF in plan")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            failures.append(f"{name}: unexpected BroadcastNestedLoopJoin")
    assert not failures, "\n".join(failures)


@pytest.mark.slow
def test_no_python_rdd_scan_under_plain_session(spark):
    """A plain session has the Arrow conf off (Spark's default) — where a
    list or pandas createDataFrame input becomes a Python-RDD scan."""
    plain = spark.newSession()
    plain.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    failures = []
    for name, qe in _swept_plans(plain, failures):
        if _has_python_rdd_leaf(qe):
            failures.append(f"{name}: Python-RDD scan in plan")
    assert not failures, "\n".join(failures)


def test_no_element_at_over_computed_hof_in_committed_plans():
    """The InferFiltersFromGenerate / alias-inline signature (DESIGN.md
    r14): ``element_at(<filter|transform|aggregate>(...), i)`` in a plan
    means a COMPUTED array was substituted into a per-element access —
    the whole producing chain re-evaluates per element (O(n²) per row;
    the CDC row ran 66.7 s instead of 2.6 s at sf0.1). Healthy plans
    only ever apply element_at to attributes. Sweeps the committed
    BENCH_PLANTEXT.json so the guard covers every bench row's actual
    optimized plan, not a re-derivation."""
    import json
    import re
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "BENCH_PLANTEXT.json"
    plans = json.loads(path.read_text())
    pat = re.compile(r"element_at\((?:filter|transform|aggregate)\(")
    bad = {
        name: len(pat.findall(txt))
        for name, txt in plans.items()
        if isinstance(txt, str) and pat.search(txt)
    }
    assert not bad, (
        f"computed-array element_at in plans (per-element re-evaluation "
        f"blowup — see DESIGN.md r14 Catalyst trap): {bad}"
    )
