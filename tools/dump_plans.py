"""Dump formatted physical plans (``explain("formatted")``).

By default, the bench headline queries and the entries listed below go
to EXPLAINS.md — reviewable evidence that filters push into scans,
columns prune, dims broadcast, and aggregations run partial+final.

With ``--tree``, each named entry goes to ``<out-dir>/<name>_<suffix>.txt``
(before/after evidence for a plan change), built on a cleared cache
from the registry of the checkout at ``--tree``, so a checkout of an
older commit yields that commit's plans. The fixture scale comes from
``SPARK_GRAFT_SF_DIR`` (default sf0.1).

Both outputs go through :func:`stable_plan`, so two dumps of the same
plans are byte-identical and can be diffed.

Usage: python tools/dump_plans.py [sf_dir]
       python tools/dump_plans.py --tree DIR --out-dir DIR --suffix S NAME...
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


# ids a driver allocates from global counters: they shift whenever
# earlier code allocates a different number of them
_ID_MASKS = [
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
]
_EXPAND_ARGS = re.compile(r"^Arguments: \[(\[.*\])\], \[(.*\bgid#\d+.*)\]$", re.M)


def _split(s: str) -> list[str]:
    """Split ``s`` on the commas outside brackets and parentheses."""
    out, depth, start = [], 0, 0
    for i, c in enumerate(s):
        depth += (c in "([") - (c in ")]")
        if c == "," and depth == 0:
            out.append(s[start:i].strip())
            start = i + 1
    return out + [s[start:].strip()]


def _mask(s: str) -> str:
    for pattern, repl in _ID_MASKS:
        s = pattern.sub(repl, s)
    return s


def _sort_expand_groups(plan: str, m: re.Match) -> str:
    """Put the distinct groups of one multi-``countDistinct`` Expand
    (Spark's RewriteDistinctAggregates) in name order. Spark orders
    them, their columns and their ``gid`` literals by expression-id
    hash, so the same plan prints in either order; this renames
    consistently through the whole plan."""
    projs = [_split(p[1:-1]) for p in _split(m.group(1))]
    outs = _split(m.group(2))
    g = next((i for i, o in enumerate(outs) if re.fullmatch(r"gid#\d+", o)), None)
    if g is None:
        return plan
    cols = [i for i in range(g) if any(p[i] == "null" for p in projs)]
    order = sorted(cols, key=lambda i: _mask(outs[i]))
    perm = list(range(len(outs)))
    for i, j in zip(cols, order):
        perm[i] = j
    projs = [[p[perm[i]] for i in range(len(p))] for p in projs]
    new_outs = [outs[perm[i]] for i in range(len(outs))]
    regular = [p for p in projs if p[g] == "0"]
    distinct = sorted((p for p in projs if p[g] != "0"), key=lambda p: _mask(str(p[:g] + p[g + 1:])))
    gids = sorted((p[g] for p in distinct), key=int)
    remap = {p[g]: new for p, new in zip(distinct, gids)}
    for p, new in zip(distinct, gids):
        p[g] = new
    line = "Arguments: [{}], [{}]".format(
        ", ".join(f"[{', '.join(p)}]" for p in regular + distinct), ", ".join(new_outs)
    )
    plan = plan[:m.start()] + line + plan[m.end():]
    if cols:
        old_seq = ", ".join(outs[i] for i in cols)
        plan = plan.replace(old_seq, ", ".join(outs[j] for j in order))
    gid = re.escape(outs[g])
    return re.sub(rf"({gid} = )(\d+)", lambda x: x.group(1) + remap.get(x.group(2), x.group(2)), plan)


def stable_plan(plan: str) -> str:
    """``plan`` without its run-to-run noise: each multi-``countDistinct``
    Expand's distinct groups in name order, then ``[plan_id=N]``,
    expression ids (``#N``), ``RDD[N]`` and ``_common_expr_N`` masked."""
    pos = 0
    while (m := _EXPAND_ARGS.search(plan, pos)) is not None:
        plan = _sort_expand_groups(plan, m)
        pos = m.start() + 1
    return _mask(plan)


def dump_files(tree: str, out_dir: str, suffix: str, names: list[str]) -> None:
    tree = os.path.abspath(tree)
    os.makedirs(out_dir, exist_ok=True)
    sys.path.insert(0, tree)

    from bigquery_postgres_events_etl_spark.io import DEFAULT_SF_DIR as sf_dir
    from bigquery_postgres_events_etl_spark.plans.audit import formatted_plan
    from bigquery_postgres_events_etl_spark.registry import all_queries
    from bigquery_postgres_events_etl_spark.session import get_spark

    spark = get_spark(app_name=f"plans-{suffix}")
    qs = all_queries()
    for name in names:
        spark.catalog.clearCache()
        plan = stable_plan(formatted_plan(qs[name](spark, sf_dir)))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(
                f"# {name} — explain('formatted') at {os.path.basename(sf_dir)}"
                f" on tree {tree}\n\n{plan}\n"
            )
        print("wrote", path)


def dump_explains(sf_dir: str) -> None:
    from bench import HEADLINE
    from bigquery_postgres_events_etl_spark.plans.audit import formatted_plan
    from bigquery_postgres_events_etl_spark.registry import all_queries
    from bigquery_postgres_events_etl_spark.session import get_spark

    spark = get_spark(app_name="dump-plans")
    qs = all_queries()

    out = [
        "# EXPLAINS — formatted physical plans (headline queries, "
        f"{os.path.basename(sf_dir)})",
        "",
        "Generated by `python tools/dump_plans.py`. Things to look for:",
        "`PushedFilters` on every scan, `ReadSchema` narrower than the",
        "table, `BroadcastHashJoin` for dims, `partial_*` aggregate",
        "functions before each `Exchange`, `TakeOrderedAndProject` for",
        "top-k.",
        "",
    ]
    # headline set + the round-2 pipeline operators whose plan shapes
    # carry the scale argument (map-side-ness, no global sort, single
    # shard exchange)
    extra = [
        "pipeline_train_test_split",
        "pipeline_pack_sharded",
        "pipeline_quality_threshold",
        "pipeline_corpus_prep_end2end",
        "dedup_minhash_incremental",
        "timeseries_resample_ffill",
        "window_range_frame",
        "sessionization_native",
        "anomaly_zscore_events",
        # round-3 additions: repetition/quality/decontamination/semantic
        # dedup (plan shapes carry the map-side / bounded-broadcast /
        # bucket-local-join scale arguments)
        "text_repetition_stats",
        "text_gopher_rules",
        "pipeline_decontaminate",
        "dedup_semantic",
        # round-4 additions: map-side PII pass, gated-broadcast rarity
        # join, two-pass-ranked RFM (no unpartitioned windows, single
        # persisted fact scan), xxhash64 simhash tier
        "text_pii_scan",
        "text_token_rarity",
        "rfm_segmentation",
        "dedup_simhash_fast",
        "dedup_ngram_containment",
        "pipeline_blocklist_filter",
        "pipeline_length_buckets",
        "multimodal_image_resize",
        "stats_winsorize_lineitem",
        "user_feature_matrix",
        "active_user_rollups",
        "pipeline_corpus_prep_full",
        # round-5 additions: blocked+verified cross-corpus resolution,
        # shuffle-free content-defined chunking, bigram-coherence joins,
        # per-source caps, hybrid retrieval, robust stats, DSIR weights
        "dedup_entity_resolve",
        "pipeline_cdc_chunks",
        "dedup_cdc_chunk_spans",
        "text_bigram_coherence",
        "pipeline_source_caps",
        "similarity_hybrid_topk",
        "stats_robust_zscore",
        "events_burst_detection",
        "pipeline_importance_weight",
        "asof_join_next_purchase",
        "dedup_exact_normalized",
        "text_ccnet_buckets",
        # round-5 second/third wave: warehouse ETL shapes, corpus
        # rewrite dedup, lexical + diversified retrieval, layout
        # optimization, mergeable rollups, interval/graph/sequence
        # analytics, contrastive prep, drift detection
        "dq_expectations_report",
        "etl_scd2_user_state",
        "etl_snapshot_diff",
        "pipeline_paragraph_dedup",
        "text_bm25_topk",
        "events_zorder_index",
        "events_mergeable_daily_rollup",
        "interval_overlap_sessions",
        "pipeline_stratified_sample",
        "part_association_rules",
        "pipeline_temperature_mixture",
        "ml_linear_score_users",
        "text_feature_hashing",
        "events_cusum_changepoints",
        "events_json_key_stats",
        "lineitem_correlation_matrix",
        "lineitem_equidepth_histogram",
        "multimodal_content_dedup",
        "event_second_order_transitions",
        "embedding_label_centroids",
        "similarity_hard_negatives",
        "pipeline_negative_sampling",
        # round-5 fourth/fifth wave: experimentation + mergeable
        # quantiles + IVM, classifier train/score/calibration, hybrid
        # fusion, LSH calibration, weighted sampling, ensemble gate,
        # forecasting prep, Pareto via two-pass cumsum
        "events_ab_ttest",
        "events_mergeable_quantile_rollup",
        "ivm_join_delta_orders",
        "text_nb_quality_score",
        "text_nb_calibration",
        "similarity_rrf_fusion",
        "dedup_minhash_jaccard_est",
        "pipeline_weighted_sample",
        "pipeline_quality_ensemble",
        "text_token_entropy",
        "events_trend_seasonal_decompose",
        "events_lag_features",
        "events_forecast_baseline_eval",
        "stats_median_ci",
        "stats_groupwise_ols",
        "stats_weighted_median",
        "orders_pareto_customers",
        # round-6 additions: synthesized-partsupp TPC-H bridge shapes
        # (fact scanned once as probe side, dims broadcast, one agg
        # exchange) — the newest entries are exactly the ones a plan
        # audit reads next (r6 verdict item #3)
        "q2_min_cost_supplier",
        "q9_product_type_profit",
        "q11_important_stock",
        "q16_parts_supplier_counts",
        "q20_potential_promotion",
        # round-7 additions: scan-tail rewrites (shared persisted
        # slivers) + the remaining budgeted entries
        "cohort_ltv_curves",
        "graph_pagerank_copurchase",
        "events_markov_attribution",
        "pipeline_epoch_repeat",
        "customer_survival_km",
        "events_psi_drift",
        "events_dau_mau_stickiness",
        "text_tfidf_top_terms",
        # the remaining SCAN_BUDGET entries (test_plans asserts every
        # budgeted entry has a dumped plan)
        "dedup_minhash_lsh_fast",
        "dedup_ngram_jaccard",
        "dedup_simhash_pairs",
        "events_seasonal_residual_anomalies",
        "part_similarity_topk",
        "similarity_ann_recall_report",
        "text_nb_quality_train",
        # round-7 new entries
        "q4_order_priority",
        "q12_shipmode_priority",
        "q19_discounted_revenue",
        "q21_suppliers_kept_waiting",
        "stats_bootstrap_mean_ci",
        "similarity_centroid_assign",
        "text_bigram_lm_score",
        "dedup_edit_distance_pairs",
        "similarity_mutual_knn",
        # late-round-9 new entries (graph hash tier, PQ-ADC, stump,
        # interpolation, kNN, paired daily stats)
        "graph_triangle_count",
        "graph_common_neighbors",
        "similarity_pq_adc",
        "ml_decision_stump_train",
        "timeseries_interpolate_linear",
        "ml_knn_classify",
        "stats_theil_sen",
        "stats_kendall_tau",
        "events_autocorrelation",
        "stats_spearman_rho",
        "events_power_analysis",
        # round-10: the composed edit-distance scale path (banded
        # candidates -> length filter -> banded-Levenshtein verify,
        # one persisted documents scan)
        "dedup_edit_distance_banded",
        # round-10 second wave: path rollup, waterfill, Shapley,
        # skyline (two-pass running max), frozen-codebook IVF
        "events_top_paths",
        "pipeline_token_waterfill",
        "events_shapley_attribution",
        "part_skyline",
        "similarity_ivf_fixed_topk",
        # round-10 third wave
        "dq_k_anonymity",
        "events_did_estimator",
        "stats_randomization_test",
        "events_cuped_adjustment",
        # round-11: exact-substring pair, fixed-point P4 markov twin,
        # seeded PPR + HITS, sign-bit + prefix-dim ANN
        "dedup_exact_substring_removal",
        "dedup_substring_keep_first",
        "events_markov_removal_p4",
        "graph_ppr_seeded",
        "graph_hits_copurchase",
        "similarity_binary_quantized_topk",
        "similarity_matryoshka_topk",
        # round-11 second wave
        "dedup_semantic_frozen",
        "text_ngram_novelty",
        "pipeline_split_leakage",
        "text_rake_keywords",
        "corpus_datasheet",
    ]
    for name in HEADLINE + extra:
        plan = stable_plan(formatted_plan(qs[name](spark, sf_dir)))
        out.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")

    with open(os.path.join(REPO, "EXPLAINS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote EXPLAINS.md ({len(HEADLINE) + len(extra)} plans)")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("args", nargs="*", metavar="sf_dir | NAME")
    p.add_argument("--tree")
    p.add_argument("--out-dir")
    p.add_argument("--suffix")
    a = p.parse_args()
    if a.tree is None:
        if a.out_dir or a.suffix or len(a.args) > 1:
            p.error("--out-dir, --suffix and entry names need --tree")
        dump_explains(a.args[0] if a.args else "/root/testdata/sf0.1")
    elif a.out_dir and a.suffix and a.args:
        dump_files(a.tree, a.out_dir, a.suffix, a.args)
    else:
        p.error("--tree needs --out-dir, --suffix and at least one NAME")


if __name__ == "__main__":
    main()
