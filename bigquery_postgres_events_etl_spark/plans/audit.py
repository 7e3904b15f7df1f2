"""Physical-plan auditing — the "would this survive 100×?" checks.

The reference gets its optimizations by SQL construction (SURVEY §4);
here Catalyst provides them, and this module makes the outcome
*assertable*: tests and tooling can verify a filter actually reached
the parquet scan, a dim actually broadcast, and the exchange count
matches the design — instead of trusting that it probably did.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def plan_summary(df: DataFrame) -> dict:
    """Counts of the plan features that matter at scale.

    Operators are counted from the formatted-explain detail headers
    (``(N) OpName``) so each physical node counts exactly once (the
    tree rendering repeats every name)."""
    fp = formatted_plan(df)
    ops = re.findall(r"^\(\d+\) (.+?)(?: \[codegen id : \d+\])?\s*$", fp, re.M)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", fp)
    partition_filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", fp)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", fp)

    def n(op: str) -> int:
        return sum(1 for o in ops if o.strip().startswith(op))

    return {
        "exchanges": n("Exchange"),
        "sorts": n("Sort"),
        "broadcast_hash_joins": n("BroadcastHashJoin"),
        "sort_merge_joins": n("SortMergeJoin"),
        "shuffled_hash_joins": n("ShuffledHashJoin"),
        "nested_loop_joins": n("BroadcastNestedLoopJoin"),
        "scans": n("Scan parquet"),
        "bucketed_scans": fp.count("Bucketed: true"),
        "pushed_filters": [p for p in pushed if p.strip()],
        "partition_filters": [p for p in partition_filters if p.strip()],
        "scan_columns": [len(s.split(",")) for s in schemas],
        "take_ordered": "TakeOrderedAndProject" in fp,
    }


# ---------------------------------------------------------------------
# Broadcast-hint governance: an explicit F.broadcast() pins the plan —
# AQE cannot override it — so a hint on a side that scales with the
# data is a deferred executor-OOM at 100×. Every hint call site must be
# registered here with a boundedness justification; the regression test
# in tests/test_plans.py fails on any unregistered site.
# Keys are (module basename, enclosing function or "<module>").

ALLOWED_BROADCAST_SITES: dict[tuple[str, str], str] = {
    ("queries_graph.py", "graph_adamic_adar"):
        "top-Q hub query set — CN_QUERIES rows, a config constant",
    ("queries_etl.py", "dq_t_closeness"):
        "source vocabulary (g_v per source — small finite set) + 1-row "
        "corpus-count scalar — both vocabulary/schema-bounded",
    ("text.py", "unigram_lm_train"):
        "1-row total-count scalar for the final cost column",
    ("text.py", "_unigram_cost_map"):
        "1-row total scalar under the vocab-bounded cost collect",
    ("text.py", "_unigram_viterbi"):
        "piece-cost dict shipped to the fused kernel — vocabulary-"
        "bounded (Heaps-sublinear, |charset|^max_piece hard cap), "
        "never corpus-sized",
    ("queries_text.py", "ml_eval_ece"):
        "1-row corpus-count scalar feeding the ECE weight",
    ("queries_text.py", "ml_eval_ndcg_bm25"):
        "1-row IDCG scalar — unconditionally safe",
    ("queries_text.py", "ml_eval_conformal"):
        "two 1-row scalar frames (q̂ conformal quantile; test-split "
        "coverage rollup) — unconditionally safe",
    ("similarity.py", "_assign"):
        "k-means centroid table — k·d rows, schema constants",
    ("similarity.py", "_round_pass"):
        "kmeans_q8 fused-kernel centroid broadcast — k·d BIGINTs, "
        "schema-constant; M-step copies destroyed after each collect",
    ("queries_stattests.py", "customer_survival_km_full"):
        "two 1-row scalar aggregates (data horizon max-date; total gap "
        "count) — unconditionally safe",
    ("queries_tpch_ps.py", "synth_partsupp"):
        "4-row quad spine + 1-row (s_cnt, s_min) dims scalar — "
        "unconditionally safe",
    ("queries_tpch_ps.py", "q2_min_cost_supplier"):
        "nation (25 rows) + pre-filtered region (1 row) — constant dims",
    ("queries_tpch_ps.py", "q9_product_type_profit"):
        "nation dim — constant 25 rows",
    ("queries_tpch_ps.py", "q11_important_stock"):
        "single-nation filter (≤1 row) + 1-row national-total scalar — "
        "unconditionally safe",
    ("queries_tpch_ps.py", "q20_potential_promotion"):
        "single-nation filter (≤1 row) — unconditionally safe",
    ("queries_tpch_dates.py", "q21_suppliers_kept_waiting"):
        "single-nation filter (≤1 row) — unconditionally safe",
    ("queries_stattests.py", "stats_logrank_test"):
        "two 1-row scalar aggregates (horizon; per-group totals) — "
        "unconditionally safe",
    ("queries_stattests.py", "funnel_time_to_convert"):
        "1-row signup-count scalar — unconditionally safe",
    ("queries_stattests.py", "stats_bootstrap_mean_ci"):
        "1-row point-estimate scalar — unconditionally safe",
    ("queries_similarity.py", "similarity_centroid_assign"):
        "centroid table — |labels| × dim rows, bounded by the label "
        "vocabulary (a small finite set by construction), not by corpus "
        "size",
    ("queries_analytics.py", "rfm_migration"):
        "1-row horizon-midpoint scalar (an aggregate) — unconditionally "
        "safe",
    ("queries_stattests.py", "events_autocorrelation"):
        "7-row literal lag spine (lags 1..7) — unconditionally safe",
    ("queries_graph.py", "graph_common_neighbors"):
        "hub query set — orderBy().limit(CN_QUERIES=20) rows, a "
        "parameter-bounded constant, not data-sized",
    ("similarity.py", "pq_adc_topk"):
        "query batch with per-subspace distance tables — |queries| × "
        "(M·K doubles), bounded by the caller's query set (the ANN-"
        "family contract: queries broadcast, corpus streams)",
    ("stream.py", "psi_between"):
        "1-row histogram-totals scalar over a constant-bounded bin "
        "table — unconditionally safe",
    ("graph.py", "pagerank"):
        "1-row dangling-mass scalar (an aggregate) — unconditionally "
        "safe; replaces a per-iteration driver .first(). Also the "
        "per-iteration rank-share table, cardinality-GATED on the "
        "measured |V| (RANKS_BROADCAST_MAX_NODES) with the "
        "hashpartitioned shuffle-join fallback above the gate — the "
        "tfidf df-gate pattern. With seeds (personalized PageRank), "
        "the seed-flag table: a caller-bounded seed set, 10 rows in "
        "graph_ppr_seeded",
    ("graph.py", "label_propagation"):
        "per-iteration label table, cardinality-GATED on the measured "
        "|V| (LPA_BROADCAST_MAX_NODES) with the hash-join fallback "
        "above the gate — same regime as the pagerank rank gate",
    ("graph.py", "markov_attribution"):
        "scenario frame (|channels|+1 rows, channel cardinality is "
        "constant) and three 1-row scalars (p_conv_full, removal-effect "
        "sum, conversion count) — unconditionally safe",
    ("graph.py", "markov_removal_p4"):
        "scenario frame (|channels|+1 rows), the 1-row p4_full/eff_sum "
        "scalars — channel-vocabulary-bounded constants, same regime as "
        "markov_attribution",
    ("graph.py", "_half"):
        "hits_fixed's half-step closure: 1-row normalization-total "
        "scalar (an aggregate) — unconditionally safe; the per-half-"
        "step hub/auth side table is cardinality-GATED on measured |V| "
        "(RANKS_BROADCAST_MAX_NODES) with the shuffle-join fallback "
        "above the gate",
    ("similarity.py", "binary_quantized_topk"):
        "query set with 16-byte signatures — bounded by the caller's "
        "query set (the ANN-family contract: queries broadcast, corpus "
        "streams)",
    ("similarity.py", "matryoshka_topk"):
        "query set with prefix slices — bounded by the caller's query "
        "set (the ANN-family contract)",
    ("queries_tpch.py", "q7_volume_shipping"): "nation dim ×2 — constant 25 rows",
    ("queries_tpch.py", "q8_market_share"): "nation ×2 + region — constant",
    ("queries_tpch.py", "q10_returned_items"): "nation dim — constant 25 rows",
    ("queries_relational.py", "q5_local_supplier_volume"):
        "region (5 rows) and nation⨝region (≤25 rows) — constant",
    ("text.py", "tfidf_top_terms"):
        "vocab broadcast GATED on measured cardinality ≤ max_broadcast_terms "
        "(default 1M ≈ tens of MB); above the threshold the hint is not "
        "applied and the term join shuffles — Heaps' law is sublinear, not "
        "bounded, so an ungated hint would OOM on a web-scale vocab. "
        "The 1-row doc-count crossJoin broadcast is unconditionally safe.",
    ("text.py", "_bigram_lm_joined"):
        "bigram model (bc) and context (cc) broadcasts GATED on measured "
        "bigram cardinality ≤ max_broadcast_bigrams (2M ≈ tens of MB); "
        "above the gate both joins shuffle. The 1-row vocab-size "
        "crossJoin broadcast is unconditionally safe.",
    ("text.py", "token_rarity"):
        "vocab broadcast GATED on measured cardinality ≤ max_broadcast_terms "
        "— same gate and rationale as tfidf_top_terms",
    ("similarity.py", "brute_force_topk"): "query set bounded by n_queries param",
    ("queries_similarity.py", "similarity_hard_negatives"):
        "query set bounded by N_QUERIES — same contract as brute_force_topk",
    ("queries_similarity.py", "pipeline_negative_sampling"):
        "query set bounded by N_QUERIES — same contract as brute_force_topk",
    ("text.py", "_nb_scored_base"):
        "vocab-sized count table broadcast GATED on measured cardinality "
        "≤ max_broadcast_terms (same contract as tfidf_top_terms); the "
        "totals and prior frames are 1-row scalars — unconditionally safe "
        "(was nb_score_with_tc; r15 split the shared chain out so the "
        "exact-decimal scorer nb_quality_score_dec reuses it)",
    ("text.py", "bm25_topk"):
        "1-row (N, avgdl, df...) stats scalar — width bounded by the fixed "
        "query-term list, unconditionally safe at any corpus size",
    ("similarity.py", "ann_lsh_topk"): "query set bounded by n_queries param",
    ("similarity.py", "ivf_topk"): "k-means centroids (n_lists) + query set — parameter-bounded",
    ("similarity.py", "ivf_fixed_topk"):
        "frozen codebook (n_lists rows) + probe set "
        "(n_queries × n_probe rows) — parameter-bounded",
    ("similarity.py", "ann_lsh_topk_multiprobe"): "probe buckets: n_queries × (1+n_planes) rows",
    ("similarity.py", "semantic_dedup_frozen"):
        "frozen codebook (n_lists rows) — parameter-bounded, same "
        "contract as ivf_fixed_topk",
    ("similarity.py", "kcenter_coreset"):
        "seed / new-center frames — exactly 1 row each by construction",
    ("queries_graph.py", "graph_resource_allocation"):
        "hub query set — bounded by CN_QUERIES (20), same contract as "
        "graph_common_neighbors",
    ("queries_stattests.py", "stats_bh_correction"):
        "two scalar frames — the 1-row m count and the 1-row BH "
        "step-up k̂ — unconditionally safe",
    ("graph.py", "graph_modularity"):
        "1-row edge-count scalar — unconditionally safe",
    ("queries_etl.py", "rel"):
        "1-row orphan-count scalar per relationship "
        "(dq_referential_integrity) — unconditionally safe",
    ("queries_similarity.py", "ml_eval_cluster_purity"):
        "frozen codebook (SEMANTIC_FROZEN_LISTS rows) — the "
        "dedup_semantic_frozen contract",
    ("queries_analytics.py", "ml_eval_next_event_hitrate"):
        "1-row horizon-midpoint scalar — the DiD contract",
    ("queries_pipeline.py", "pipeline_rendezvous_sharding"):
        "shard spine (HRW_SHARDS rows, a config constant) + the "
        "1-row total scalar — unconditionally safe",
    ("queries_dedup.py", "dedup_lsh_recall_report"):
        "two 1-row count scalars — unconditionally safe",
    ("pipeline.py", "quality_threshold_filter"): "1-row percentile-threshold scalar",
    ("queries_pipeline.py", "pipeline_corpus_prep_end2end"):
        "1-row quality-threshold scalar — unconditionally safe",
    ("queries_pipeline.py", "pipeline_corpus_prep_full"):
        "1-row quality-threshold scalar — unconditionally safe",
    ("queries_pipeline.py", "pipeline_temperature_mixture"):
        "1-row weight-total scalar for the temperature rates",
    ("stream.py", "streaming_enriched_segment_counts"):
        "static user→segment dimension — bounded by contract (docstring "
        "requires a dim, not a fact; a growing side belongs in a "
        "stream-stream join)",
    ("zorder.py", "zorder_index"):
        "1-row global min/max scalar frame for the z-curve scaling",
    ("pipeline.py", "decontaminate_bloom"):
        "Bloom bitset relation — ≤ num_bits rows by construction (a "
        "configuration constant, ~4 MB at the 2^20 default), independent "
        "of both corpus and benchmark size",
    ("pipeline.py", "decontaminate"):
        "benchmark n-gram set — bounded by the evaluation suite size (a "
        "fixed artifact chosen by the benchmark author), not the corpus SF; "
        "tens of MB at WMDP/MMLU scale. Drop the hint to shuffle-join if a "
        "suite ever approaches the 8 GB broadcast limit.",
    ("queries_tpch.py", "q22_global_sales_opportunity"): "1-row average-balance scalar",
    ("queries_relational.py", "part_association_rules"): "1-row order-count scalar",
    ("queries_misc.py", "events_json_key_stats"): "1-row total-count scalar",
    ("ranking.py", "with_global_ranks"):
        "per-range-partition prefix offsets — row count bounded by the "
        "shuffle partition count (a cluster config constant), not the data",
    ("ranking.py", "with_global_cumsum"):
        "per-range-partition sum offsets — same partition-count bound "
        "as with_global_ranks",
    ("ranking.py", "with_global_running_max"):
        "per-range-partition max offsets — same partition-count bound "
        "as with_global_ranks",
    ("queries_pipeline.py", "token_waterfill"):
        "two 1-row scalar frames (n/budget aggregate; k*/P_k* "
        "fixpoint aggregate) — unconditionally safe",
    ("queries_analytics.py", "events_shapley_attribution"):
        "channel-bit dim — bounded by the channel vocabulary "
        "(≤ SHAPLEY_MAX_CHANNELS = 12 by the gate)",
    ("queries_etl.py", "dq_k_anonymity"):
        "1-row corpus-total scalar — unconditionally safe",
    ("queries_stats.py", "events_did_estimator"):
        "1-row horizon-midpoint scalar — unconditionally safe",
    ("queries_stattests.py", "stats_randomization_test"):
        "1-row observed-diff scalar — unconditionally safe",
    ("queries_stats.py", "events_cuped_adjustment"):
        "1-row horizon-midpoint scalar — unconditionally safe",
    ("queries_window.py", "window_distribution"):
        "two 1-row scalar frames (first/last/nth full-frame values from "
        "distributed min_by/max_by + top-2 TakeOrderedAndProject)",
}


def broadcast_hint_sites(package_root: str) -> list[tuple[str, str, int]]:
    """Scan operator sources for ``F.broadcast(`` call sites.

    Returns (module basename, enclosing function, line). Source-level
    on purpose: a *hint* is a build-time promise about boundedness, so
    the audit is over the code, not a plan instance at one SF (where
    AQE may legitimately broadcast a scaling table because it is small
    *today*)."""
    import ast
    import os

    sites: list[tuple[str, str, int]] = []
    for dirpath, _dirs, files in os.walk(package_root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            tree = ast.parse(open(path).read(), filename=path)
            func_ranges: list[tuple[str, int, int]] = []
            for node in ast.walk(tree):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    func_ranges.append(
                        (node.name, node.lineno, node.end_lineno or node.lineno)
                    )
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                ):
                    enclosing = "<module>"
                    for name, lo, hi in func_ranges:
                        if lo <= node.lineno <= hi:
                            enclosing = name
                    sites.append((fname, enclosing, node.lineno))
    return sites


def unpartitioned_window_specs(df: DataFrame) -> list[str]:
    """Window specs in the executed plan with NO partition columns.

    An unpartitioned window funnels the whole input through one
    reducer ("No Partition Defined for Window" at runtime) — fine for
    a bounded exact tier, fatal at 100 TB. Detection is on the
    ``windowspecdefinition(...)`` rendering: partition columns come
    first, then order columns (`col ASC/DESC NULLS ...`), then the
    frame — so a spec whose first argument is already an order spec or
    the frame itself has no partitioning. Returns the offending spec
    heads (deduped) for assertion messages."""
    plan = executed_plan(df)
    offenders: list[str] = []
    for m in re.finditer(r"windowspecdefinition\(([^()]*?(?:specifiedwindowframe|$))", plan):
        head = m.group(1)
        first = head.split(",")[0].strip()
        if first.startswith("specifiedwindowframe") or re.search(
            r"\s(ASC|DESC)\s+NULLS", first
        ):
            offenders.append(first)
    return sorted(set(offenders))


def has_pushed_filter(df: DataFrame, column: str) -> bool:
    """True if any parquet scan received a pushed filter on ``column``."""
    return any(column in p for p in plan_summary(df)["pushed_filters"])


# ---------------------------------------------------------------------
# Lineage-aware checkpointing. ``localCheckpoint`` truncates the
# logical plan, so any scan that happens BEFORE the checkpoint is
# invisible to scan_read_schemas on the final frame — the r9 verdict's
# lineage blind spot: the two-pass-ranking entries (ranking.py), the
# kcore peel, and the connected-components family all reported
# "(no parquet scan)" and silently escaped the pruning contract.
# Audit tooling wraps entry construction in capture_checkpoints(),
# which intercepts DataFrame.localCheckpoint itself for the duration —
# every pre-checkpoint frame is recorded regardless of which operator
# module performed the checkpoint, present or future.


class capture_checkpoints:
    """Context manager: while active, every ``df.localCheckpoint()``
    records the pre-checkpoint ``df`` into the yielded list before
    checkpointing as usual (audit-time only — nothing is patched
    outside the with-block). Usage:

        with capture_checkpoints() as pre_frames:
            df = fn(spark, sf_dir)
        scans = scan_read_schemas(df, extra_frames=pre_frames)
    """

    @staticmethod
    def _classes() -> list[type]:
        # both the abstract pyspark.sql.DataFrame AND the concrete
        # classic.dataframe.DataFrame define localCheckpoint; instances
        # dispatch to the concrete override, so patching only the base
        # captures nothing (PySpark 4 classic/Connect split)
        classes: list[type] = [DataFrame]
        try:
            from pyspark.sql.classic.dataframe import DataFrame as _Classic

            classes.append(_Classic)
        except Exception:
            pass
        return [c for c in classes if "localCheckpoint" in vars(c)]

    def __enter__(self) -> list[DataFrame]:
        captured: list[DataFrame] = []
        self._origs: list[tuple[type, object]] = []
        for cls in self._classes():
            orig = cls.localCheckpoint
            self._origs.append((cls, orig))

            # forward everything: PySpark versions add parameters to
            # localCheckpoint (e.g. storageLevel) and callers may pass
            # positionally — a pinned signature would TypeError mid-audit
            def _capturing(df, *args, _orig=orig, **kwargs):
                captured.append(df)
                return _orig(df, *args, **kwargs)

            cls.localCheckpoint = _capturing  # type: ignore[method-assign]
        return captured

    def __exit__(self, *exc) -> None:
        for cls, orig in self._origs:
            cls.localCheckpoint = orig  # type: ignore[method-assign]


def scan_is_pruned(df: DataFrame, max_columns: int) -> bool:
    """True if every parquet scan reads at most ``max_columns`` columns
    (column pruning reached the source)."""
    cols = plan_summary(df)["scan_columns"]
    return bool(cols) and all(c <= max_columns for c in cols)


def table_scan_counts(df: DataFrame) -> dict[str, int]:
    """How many times each source table is scanned in the optimized
    plan — the repeated-scan evidence (r5's verdict: entity_resolve
    re-tokenized documents(text) 10× because nothing was persisted).
    A persisted frame's scan counts ONCE (the InMemoryRelation body is
    not a numbered plan node), which is also what executes."""
    from collections import Counter

    return dict(Counter(t for t, _ in scan_read_schemas(df)))


def scan_read_schemas(
    df: DataFrame, extra_frames: list[DataFrame] | None = None
) -> list[tuple[str, list[str]]]:
    """(table, [columns]) per parquet scan in the optimized plan — the
    column-pruning evidence: which physical columns each source
    actually pays for. Table name is derived from the scan Location's
    last path component. ``extra_frames``: pre-checkpoint frames from
    capture_checkpoints() — their scans are appended so checkpointed
    plans don't hide the real reads."""
    out: list[tuple[str, list[str]]] = []
    for extra in extra_frames or []:
        out.extend(scan_read_schemas(extra))
    out.extend(_scan_read_schemas_one(df))
    return out


def _scan_read_schemas_one(df: DataFrame) -> list[tuple[str, list[str]]]:
    fp = formatted_plan(df)
    out: list[tuple[str, list[str]]] = []
    # detail blocks: "(N) Scan parquet \n Output ... Location: X ... ReadSchema: struct<...>"
    for block in re.split(r"^\(\d+\) ", fp, flags=re.M):
        if not block.startswith("Scan parquet"):
            continue
        loc = re.search(r"Location: \S+ \[[^\]]*?([A-Za-z0-9_.\-]+)\.parquet\]?", block)
        schema = re.search(r"ReadSchema: struct<([^>]*)>", block)
        if not schema:
            continue
        cols = [
            c.split(":")[0].strip()
            for c in schema.group(1).split(",")
            if c.strip()
        ]
        out.append((loc.group(1) if loc else "?", cols))
    return out
