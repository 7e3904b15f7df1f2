"""Generate LINEAGE.md: per-registry-entry source tables and the
EXACT physical columns each scan reads (ReadSchema) — the column-
pruning evidence for every query at once, and a reviewable catalog of
which operator touches which data.

Usage: python tools/lineage_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# iterative ops EXECUTE jobs at plan-construction time; listing their
# final-frame lineage would be misleading (the real scans happen in
# the loop), so they are annotated instead
ITERATIVE = {
    "graph_pagerank_copurchase": "lineitem(l_orderkey,l_partkey) + orders(o_orderkey,o_custkey); fixed-point iterations over the persisted in-neighbor adjacency (r11)",
    "graph_ppr_seeded": "lineitem(l_orderkey,l_partkey) + orders(o_orderkey,o_custkey); seeded fixed-point iterations over the persisted adjacency, seeds from an orders TakeOrdered",
    "graph_hits_copurchase": "lineitem(l_orderkey,l_partkey) + orders(o_orderkey,o_custkey); L1-normalized integer half-steps over the checkpointed edge frame",
    "events_markov_removal_p4": "events(event_id,ts,user_id,event_type) → journey transitions; two integer matrix squarings over the constant-size scenario frame",
    "text_bpe_train_merges": "documents(text) once for word counts; merge loop touches the vocab table only",
    "similarity_mmr_topk": "embeddings(vec_id,embedding,label); greedy rounds over the bounded candidate frame",
    "dedup_dup_clusters": "documents via LSH pairs; label-propagation rounds over the pair graph",
    "dedup_cluster_star": "same as dedup_dup_clusters (the same label-propagation rounds, no cluster-size window)",
    "ml_logreg_train": "events(user_id,event_type) → per-user features; one aggregated scan per GD step",
    "ml_perceptron_train": "events(user_id,event_type) → per-user integer features; one aggregated scan per epoch, (k+2)-value scalar row to the driver",
    "pipeline_kcenter_coreset": "embeddings(vec_id,embedding); per greedy round one argmax aggregation + one dmin-update map against the 1-row new center, state checkpointed",
    "embedding_power_iteration": "embeddings(vec_id,embedding) → int8 cells; one partial-aggregated d×d Gram reduction (collect bounded by the schema constant d²=4096), iterations driver-side integer",
    "events_holt_smoothing": "events(event_type,ts) → per-type daily rollup (collect bounded by calendar × vocabulary); Holt recursion driver-side integer",
    "ml_eval_isotonic_calibration": "documents via the persisted NB tc sliver → ≤9-row bucket table (schema-bounded collect); stack PAVA driver-side integer",
    "text_bpe_encode_trained": "documents(text) — bpe_train pass for merges, then one mapInPandas encode pass",
    "events_markov_attribution": "events(event_id,ts,user_id,event_type) → journey transitions; constant-size chain squared driver-side below the channel gate (r10), distributed matrix-squaring rounds above it",
    "graph_label_propagation": "lineitem(l_orderkey,l_partkey) → co-occurrence edges; synchronous label-adoption rounds over the edge frame",
    "text_wordpiece_train": "documents(text) once for word counts; merge loop (pair + symbol aggregations) touches the vocab table only",
    "text_wordpiece_encode_trained": "documents(text) — wordpiece_train pass for the vocab, then one mapInPandas greedy-encode pass + the per-doc rollup join",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from bigquery_postgres_events_etl_spark.plans.audit import (
        capture_checkpoints,
        scan_read_schemas,
    )
    from bigquery_postgres_events_etl_spark.registry import all_queries
    from bigquery_postgres_events_etl_spark.session import get_spark

    spark = get_spark(app_name="lineage")
    out = [
        "# LINEAGE — per-query source tables and scanned columns",
        "",
        "Generated by `python tools/lineage_report.py`. Each row is one",
        "registry entry; columns listed are the parquet scan's ReadSchema —",
        "what the query physically pays for. A narrow list next to a wide",
        "table IS the column-pruning evidence at 100 TB.",
        "",
        "| query | table → scanned columns |",
        "|---|---|",
    ]
    qs = all_queries()
    for name, fn in qs.items():
        if name in ITERATIVE:
            out.append(f"| {name} | _(iterative)_ {ITERATIVE[name]} |")
            continue
        try:
            # capture pre-checkpoint frames: localCheckpoint truncates
            # lineage, and the two-pass-ranking / peel / CC entries do
            # their parquet reads BEFORE the checkpoint (r9 verdict's
            # blind spot — 13 entries reported "(no parquet scan)")
            with capture_checkpoints() as pre:
                df = fn(spark, sf_dir)
            scans, seen = [], set()
            for t, cols in scan_read_schemas(df, extra_frames=pre):
                key = (t, tuple(cols))
                if key not in seen:
                    seen.add(key)
                    scans.append((t, cols))
        except Exception as e:  # pragma: no cover
            out.append(f"| {name} | ERROR: {e} |")
            continue
        desc = "; ".join(
            f"{t}({', '.join(cols)})" for t, cols in scans
        ) or "(no parquet scan — derived/driver frame)"
        out.append(f"| {name} | {desc} |")
    with open(os.path.join(REPO, "LINEAGE.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote LINEAGE.md ({len(qs)} entries)")


if __name__ == "__main__":
    main()
