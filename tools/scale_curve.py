"""Empirical sf0.1 → sf1 scale curve for the bucketed dedup /
similarity tiers.

SCALE.md's 100 TB claims were plan-asserted but measured at one scale
point only; this tool adds the second point. It amplifies the driver's
sf0.1 ``documents``/``embeddings`` fixtures 10× into
``.scale_sf1/`` (local, gitignored, derived from driver data — never
hand-synthesized distributions):

- documents: 10 copies, ``doc_id`` offset per copy; copies k>0 get a
  per-copy token suffix so the near-duplicate structure of the corpus
  REPLICATES (10× the dup pairs) instead of every doc gaining 9 exact
  twins (which would make every LSH bucket a 10-clique — an
  adversarial corpus, not a scaled one).
- embeddings: 10 copies, ``vec_id`` offset; copies k>0 get a
  deterministic per-(copy, dim) perturbation so vector DIRECTIONS
  differ across copies (a pure rescale would leave every hyperplane
  sign identical and overfill the ANN buckets 10×).

Then runs the bucketed tiers at both scales (min of 2 same-session
runs, second run steady-state) and prints per-query
{sf01_s, sf1_s, ratio, linear_x} — ``linear_x`` is ratio/10, the
"how many times worse than perfectly linear" number SCALE.md quotes
(LSH/banded tiers should hold ≲1.5).

With ``--history 1,30,120`` it instead measures the incremental ETL
trigger against its history (see :func:`history_sweep`): per history
length, the wall and the source and target input records of a
new-day, an idle and a crash-replay trigger.

Usage: python tools/scale_curve.py  [--regen]
       python tools/scale_curve.py --history 1,30,120
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

AMPLIFY = 10
SF1_DIR = os.path.join(REPO, ".scale_sf1")
SF01_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

QUERIES = [
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_fast",
    "dedup_simhash",
    "dedup_simhash_fast",
    "text_tfidf_top_terms",
    "similarity_ann_lsh",
    # round-5 additions: blocked+verified cross-corpus resolution,
    # map-side CDC + span dedup, hybrid sparse→dense retrieval
    "dedup_entity_resolve",
    "dedup_cdc_chunk_spans",
    "similarity_hybrid_topk",
    # round-5 second wave: corpus rewrite dedup (digest window + doc
    # agg), lexical top-k (should be near-flat shuffle: the corpus
    # never shuffles, only the 1-row stats frame)
    "pipeline_paragraph_dedup",
    "text_bm25_topk",
    # round-5 third wave: NB classifier scoring (vocab-gated token
    # join), perceptual-hash banding over media payloads, LSH
    # estimate + candidate-confined exact verify, entropy (explode +
    # doc-partitioned window)
    "text_nb_quality_score",
    "multimodal_phash_near_dup",
    "dedup_minhash_jaccard_est",
    "text_token_entropy",
    # round-6 additions (the r5 verdict's heavy newcomers): SCD2
    # gaps-and-islands (one user_id exchange serving four window
    # steps), Markov attribution (journey transitions + constant-size
    # matrix squaring), PageRank (per-iteration edge joins over the
    # basket graph — wall dominated by iteration count, bytes by the
    # edge exchange)
    "etl_scd2_user_state",
    "events_markov_attribution",
    "graph_pagerank_copurchase",
    # round-7 additions (the r6 verdict's wave-2 rewrites — new plans
    # with persisted bounded intermediates, no measured slope yet):
    # burst detection, robust-z, DAU/MAU stickiness, the one-scan
    # quality ensemble, and the 3-scan corpus-prep composition
    "events_burst_detection",
    "stats_robust_zscore",
    "events_dau_mau_stickiness",
    "pipeline_quality_ensemble",
    "pipeline_corpus_prep_full",
    # round-7 new entries + the scan-tail rewrites with new plans:
    # bigram LM (persisted sliver + gated model broadcast), mutual-kNN
    # (brute-force verify tier — expected quadratic wall, sliver
    # shuffle), bootstrap (B× map-side CPU, ≤B-row shuffle),
    # edit-distance (length-blocked quadratic-within-block),
    # centroid assignment (bounded broadcast + partial-agg distances),
    # NB calibration (shared tc sliver), LTV (persisted firsts)
    "text_bigram_lm_score",
    "similarity_mutual_knn",
    "stats_bootstrap_mean_ci",
    "dedup_edit_distance_pairs",
    "similarity_centroid_assign",
    "text_nb_calibration",
    "cohort_ltv_curves",
    # round-7 TPC-H completion: synthesized-shipping shapes — Q21 is
    # the interesting one (semi + anti joins over three key-sliver
    # scans of the fact)
    "q4_order_priority",
    "q12_shipmode_priority",
    "q19_discounted_revenue",
    "q21_suppliers_kept_waiting",
    # round-8 additions: the dedup deletion composition (LSH pairs ->
    # closure -> keep-join) and the two real-codec entries (map-side
    # mapInPandas -- expected flat-ish wall, zero shuffle)
    "pipeline_dedup_apply",
    "multimodal_bmp_resize_real",
    "multimodal_wav_resample_real",
    "multimodal_bmp_dhash_real",
    # late-r9 addition: PQ-ADC ANN — corpus encodes map-side (expected
    # ~0 shuffle at both points: queries broadcast with their distance
    # tables, candidate top-k window is the only exchange)
    "similarity_pq_adc",
    # late-r9 graph tier: the sf1 amplifier keeps the part catalog and
    # 10×es the baskets, so the co-occurrence graph DENSIFIES (same
    # nodes, more edges + triangles) — the adversarial direction for
    # triangle counting, where cost tracks real triangle count
    "graph_triangle_count",
    "graph_common_neighbors",
    # round-10: the composed edit-distance scale path (SimHash-band
    # candidates → banded verify — expected sub-quadratic, unlike the
    # 19.6×@10× unblocked sibling above), plus measured slopes for the
    # late-r9 wave the r9 verdict flagged as missing SCALE rows
    "dedup_edit_distance_banded",
    "stats_kendall_tau",
    "stats_spearman_rho",
    "stats_theil_sen",
    "events_autocorrelation",
    "ml_knn_classify",
    "ml_decision_stump_train",
    "timeseries_interpolate_linear",
    "funnel_window_constrained",
    "rfm_migration",
    "lineitem_abc_analysis",
    "events_power_analysis",
    # round-10 new entries: journey-path rollup (one user exchange),
    # waterfill (source-vocabulary window), exact Shapley (coalition
    # spine bounded by channel vocabulary), skyline (per-price
    # collapse + two-pass running max), frozen-codebook IVF
    "events_top_paths",
    "pipeline_token_waterfill",
    "events_shapley_attribution",
    "part_skyline",
    "similarity_ivf_fixed_topk",
    # round-10 third wave: governance + experimentation entries
    "dq_k_anonymity",
    "events_did_estimator",
    "stats_randomization_test",
    "events_cuped_adjustment",
    # round-11 new entries: exact-substring removal (L-gram inverted
    # index + island merge — bytes track the gram explode), keep-one
    # policy sibling (single gram-window exchange), fixed-point P^4
    # Markov twin, seeded PPR + HITS (iteration-count-bounded walls,
    # edge-exchange bytes), sign-bit + prefix-dim ANN (signature/
    # prefix slivers; full vectors only for shortlists)
    "dedup_exact_substring_removal",
    "dedup_substring_keep_first",
    "events_markov_removal_p4",
    "graph_ppr_seeded",
    "graph_hits_copurchase",
    "similarity_binary_quantized_topk",
    "similarity_matryoshka_topk",
    # round-11 second wave: frozen-codebook SemDeDup (broadcast
    # codebook + in-cluster pair join — Σ cluster² is the scale term),
    # integer perceptron (one partial-agg scan per epoch — expected
    # linear, iteration-bounded), trigram novelty (shuffle left join
    # on the gram key), k-center (k argmax scans — linear × k),
    # split-leakage (the jaccard-est LSH shape + two narrow joins)
    "dedup_semantic_frozen",
    "ml_perceptron_train",
    "text_ngram_novelty",
    "pipeline_kcenter_coreset",
    "pipeline_split_leakage",
    # r11 third wave: distributed d×d Gram reduction + driver-side
    # integer rounds — expected near-flat (shuffle ≤ partitions·d²)
    "embedding_power_iteration",
    # r11 fourth wave: vocabulary-bounded privacy agg, hub-confined
    # RA wedges (the CN shape + one degree join), calendar-bounded
    # Holt rollup
    "dq_l_diversity",
    "graph_resource_allocation",
    "events_holt_smoothing",
    # r11 fifth wave: RAKE (one tokenize pass + vocabulary joins),
    # BH (randomization-test expansion × type vocabulary)
    "text_rake_keywords",
    "stats_bh_correction",
    # r11 sixth wave: model-eval pair — NB scoring pass + the
    # distinct-score two-pass cumsum (no data-sized window)
    "ml_eval_auc_nb",
    "ml_eval_pr_curve",
    # r11 seventh wave: LPA + endpoint-label joins; three anti-join
    # key-sliver probes
    "graph_modularity",
    "dq_referential_integrity",
    # r11 eighth wave: broadcast-codebook contingency; vocabulary-
    # sliver self-join
    "ml_eval_cluster_purity",
    "corpus_source_overlap",
    # r11 ninth wave: NB scoring pass + schema-bounded PAVA collect
    "ml_eval_isotonic_calibration",
    # r11 tenth wave: three scalar-sliver aggregation passes
    "corpus_datasheet",
    # r11 eleventh wave: |E|-join per attenuated round, state
    # checkpointed (the HITS shape without normalization totals)
    "graph_katz_centrality",
    # r11 twelfth wave: one lag window + vocabulary² matrix frames
    "ml_eval_next_event_hitrate",
    # r11 thirteenth wave: the interval bucket-decomposition shape +
    # a pure-CASE classification
    "interval_allen_relations",
    # r11 fourteenth wave: map-side S-way fan-out + shard rollup
    "pipeline_rendezvous_sharding",
    # r11 fifteenth wave: one distinct-user agg per type + per-row CI
    "events_wilson_ci",
    # r11 sixteenth wave: the containment inverted-index shape + a
    # size-oriented argmax policy
    "dedup_containment_subsumption",
    # r11 seventeenth wave: the LSH + exact-tier composition report
    "dedup_lsh_recall_report",
    # r12: the production-regime SemDeDup sibling — codebook k =
    # ceil(N/64) grows with the corpus, so expected ~linear (the
    # 3.3x regime SCALE.md measured) vs the frozen-8 entry above
    "dedup_semantic_fixed_size",
    # r12: fixed-point hard-sigmoid GD — one partial-agg scan per
    # epoch, expected linear iteration-bounded like the perceptron
    "ml_logreg_train",
    # r12 second wave: unigram trainer (vocab-table DP — expected
    # near-flat: corpus touched once, loop depth corpus-independent),
    # AA wedges (the CN/RA shape), exact-integer privacy grid,
    # one-scan ANOVA, three-window curriculum schedule, NB ECE
    "text_unigram_lm_train",
    "graph_adamic_adar",
    "dq_t_closeness",
    "stats_anova_oneway",
    "pipeline_curriculum_order",
    "ml_eval_ece",
    # r12 third wave: fixed-point Lloyd's — iteration-bounded, k·d
    # centroid broadcast, N·k map-side assignment rows per round
    "ml_kmeans_train_q8",
    # r12 fourth wave: the BM25 machinery + two LIMIT-k windows —
    # expected flat (corpus never shuffles)
    "ml_eval_ndcg_bm25",
    # r12 fifth wave: trainer + one more Viterbi pass + per-doc
    # rollup — the only corpus-sized stage is the doc_words join
    "text_unigram_encode_trained",
    # r13 additions: DoReMi (corpus work = NB scoring; MW loop is
    # |sources|-row driver arithmetic — expected near-flat beyond the
    # NB token join), MRR (the NDCG frame — expected flat), AP (the
    # packed-cumsum PR machinery — expected near-linear sliver)
    "pipeline_doremi_weights",
    "ml_eval_mrr_bm25",
    "ml_eval_avg_precision_nb",
    # r13 third wave: two scoring slivers + two two-pass rankings
    "pipeline_learnability_select",
    # r14 additions: WordPiece trainer (one corpus pass + two small
    # vocab aggregations per round — the bpe_train shape, expected
    # near-flat) and encoder (vocab-bounded closure + one Arrow pass +
    # the per-doc rollup join — the bpe_encode shape), mSPRT (two
    # partial-agg rollups + calendar-bounded day windows — expected
    # linear scan-bound), conformal (NB scoring pass + calibration-
    # sliver two-pass ranking — the ml_eval_auc shape)
    "text_wordpiece_train",
    "text_wordpiece_encode_trained",
    "events_ab_sequential",
    "ml_eval_conformal",
]


def build_sf1(spark) -> None:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(SF01_DIR, "documents.parquet"))
    n_docs = docs.count()
    copies = []
    for k in range(AMPLIFY):
        c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * n_docs))
        if k:
            # token-wise suffix: shingles/tokens differ across copies,
            # so each copy carries its own (replicated) dup structure
            c = c.withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split("text", " "), lambda x: F.concat(x, F.lit(f"~{k}"))
                    ),
                    " ",
                ),
            )
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(SF1_DIR, "documents.parquet")
    )

    emb = spark.read.parquet(os.path.join(SF01_DIR, "embeddings.parquet"))
    n_vec = emb.count()
    copies = []
    for k in range(AMPLIFY):
        c = emb.withColumn("vec_id", F.col("vec_id") + F.lit(k * n_vec))
        if k:
            # deterministic per-(copy, dim) direction perturbation
            c = c.withColumn(
                "embedding",
                F.expr(
                    f"transform(embedding, (v, i) -> "
                    f"cast(v + 0.15 * sin(cast(i * {k} AS DOUBLE) + {k}) AS FLOAT))"
                ),
            )
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.repartition(8).write.mode("overwrite").parquet(
        os.path.join(SF1_DIR, "embeddings.parquet")
    )

    # events / orders / lineitem for the user-journey and graph ops:
    # 10× the USERS (ids offset per copy), same time span and part
    # catalog — the realistic horizontal growth for event streams
    # (more users, not a longer history) and for the co-purchase graph
    # (same catalog, 10× the baskets/edge weight)
    ev = spark.read.parquet(os.path.join(SF01_DIR, "events.parquet"))
    n_ev = ev.count()
    n_users = 1 + (ev.agg(F.max("user_id")).collect()[0][0] or 0)
    out = None
    for k in range(AMPLIFY):
        c = ev.withColumn("event_id", F.col("event_id") + F.lit(k * n_ev)).withColumn(
            "user_id", F.col("user_id") + F.lit(k * n_users)
        )
        out = c if out is None else out.unionByName(c)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(SF1_DIR, "events.parquet")
    )

    o = spark.read.parquet(os.path.join(SF01_DIR, "orders.parquet"))
    n_ord = 1 + (o.agg(F.max("o_orderkey")).collect()[0][0] or 0)
    n_cust = 1 + (o.agg(F.max("o_custkey")).collect()[0][0] or 0)
    out = None
    for k in range(AMPLIFY):
        c = o.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(k * n_ord)).withColumn(
            "o_custkey", F.col("o_custkey") + F.lit(k * n_cust)
        )
        out = c if out is None else out.unionByName(c)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(SF1_DIR, "orders.parquet")
    )

    li = spark.read.parquet(os.path.join(SF01_DIR, "lineitem.parquet"))
    out = None
    for k in range(AMPLIFY):
        c = li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(k * n_ord))
        out = c if out is None else out.unionByName(c)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(SF1_DIR, "lineitem.parquet")
    )
    _link_dims()


def _link_dims() -> None:
    """Dimension tables are NOT amplified — 10× the facts against the
    SAME part/supplier/nation/region/customer catalog is the realistic
    scale direction (and what the dim-broadcast plans assume).
    Hardlinked, no copy cost; idempotent (also run for pre-existing
    .scale_sf1 dirs built before dims were needed)."""
    for dim in ("part", "supplier", "nation", "region", "customer"):
        src = os.path.join(SF01_DIR, f"{dim}.parquet")
        dst = os.path.join(SF1_DIR, f"{dim}.parquet")
        if os.path.exists(dst) or not os.path.isfile(src):
            continue
        os.link(src, dst)


HISTORY_ROWS_PER_DAY = 20_000
HISTORY_SEED = 7
HISTORY_CYCLES = 2  # the last cycle is reported; the first warms the JVM


def history_sweep(spark, day_counts: list[int]) -> dict[str, dict]:
    """The incremental ETL trigger's cost against the history behind it.

    For each count N, N generated days (perfbench's day generator,
    ``HISTORY_ROWS_PER_DAY`` rows a day, one file a day) are backfilled
    into a parquet target; then each cycle adds a day and runs a
    new-day, an idle and a crash-replay trigger (the watermark rewound
    to before the new day). For the last cycle's triggers it returns
    the wall seconds, the fetched and inserted rows, the rows the
    source and the target scans read (bench.scan_records) and the job
    group's ``input_records`` (their sum, bench.group_metrics)."""
    import tempfile

    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    from gen import EPOCH_2024_US, write_events_day

    from bench import group_metrics, scan_records
    from bigquery_postgres_events_etl_spark.streaming.incremental import (
        run_incremental_etl,
    )

    sc = spark.sparkContext
    rows = HISTORY_ROWS_PER_DAY
    out: dict[str, dict] = {}
    for n in day_counts:
        with tempfile.TemporaryDirectory(prefix=f"history{n}-") as base:
            state, target = os.path.join(base, "wm"), os.path.join(base, "target")

            def trigger(group: str, wm: int | None = None) -> dict:
                if wm is not None:
                    with open(state, "w") as f:
                        f.write(str(wm))
                sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                try:
                    r = run_incremental_etl(spark, base, state, target)
                finally:
                    sc._jsc.clearJobGroup()
                if r["status"] != "success":
                    raise RuntimeError(f"{group}: {r}")
                r["wall_s"] = round(time.perf_counter() - t0, 3)
                return r

            for d in range(n):
                write_events_day(HISTORY_SEED, d, rows, rows // 5, base)
            trigger(f"history{n}-backfill", EPOCH_2024_US - 1)
            for c in range(HISTORY_CYCLES):
                with open(state) as f:
                    wm = int(f.read())
                write_events_day(HISTORY_SEED, n + c, rows, rows // 5, base)
                cycle = {}
                for kind, rewind in (("batch", None), ("idle", None), ("replay", wm)):
                    group = f"history{n}-{c}-{kind}"
                    r = trigger(group, rewind)
                    scans = scan_records(spark, group)
                    cycle[kind] = {
                        "wall_s": r["wall_s"],
                        "fetched": r["records_fetched"],
                        "inserted": r["records_inserted"],
                        "source_records": sum(v for desc, v in scans if "events.parquet" in desc),
                        "target_records": sum(v for desc, v in scans if target in desc),
                        "input_records": group_metrics(spark, group)["input_records"],
                    }
            out[f"{n}d"] = cycle
            print(f"# history {n} days: {cycle}", file=sys.stderr)
    return out


def main() -> None:
    from bench import group_metrics, noop_run
    from bigquery_postgres_events_etl_spark.registry import all_queries
    from bigquery_postgres_events_etl_spark.session import get_spark

    spark = get_spark(app_name="scale_curve")
    if "--history" in sys.argv:
        days = sys.argv[sys.argv.index("--history") + 1]
        print(json.dumps(history_sweep(spark, [int(d) for d in days.split(",")])))
        return
    if "--regen" in sys.argv or not os.path.isdir(
        os.path.join(SF1_DIR, "documents.parquet")
    ):
        t0 = time.time()
        build_sf1(spark)
        print(f"# built {SF1_DIR} in {time.time() - t0:.1f}s", file=sys.stderr)
    else:
        _link_dims()

    qs = all_queries()
    out: dict[str, dict] = {}
    # positional args filter the query list (substring match)
    name_filters = [a for a in sys.argv[1:] if not a.startswith("--")]
    queries = (
        [q for q in QUERIES if any(f in q for f in name_filters)]
        if name_filters
        else QUERIES
    )
    skip_streaming = "--no-streaming" in sys.argv
    for name in queries:
        walls = {}
        for label, d in (("sf01", SF01_DIR), ("sf1", SF1_DIR)):
            best = min(
                noop_run(spark, qs[name], d, f"{name}@{label}#r{i}")
                for i in range(2)
            )
            walls[f"{label}_s"] = round(best, 2)
        # steady-state (#r1) shuffle bytes per scale, read before later
        # entries' jobs evict these groups from the status store (it
        # keeps the newest 1000 jobs) — bytes scale with data even when
        # wall clock is overhead-bound at these sizes, so the bytes
        # RATIO is the honest slope signal
        a = group_metrics(spark, f"{name}@sf01#r1")["shuffle_mb"]
        b = group_metrics(spark, f"{name}@sf1#r1")["shuffle_mb"]
        # persisted intermediates (vocab gates etc.) accumulate across
        # 15 queries × 2 scales × 2 runs in one JVM — drop them so the
        # curve measures the queries, not heap pressure
        spark.catalog.clearCache()
        ratio = walls["sf1_s"] / walls["sf01_s"]
        out[name] = {
            **walls,
            "ratio": round(ratio, 2),
            "linear_x": round(ratio / AMPLIFY, 2),
            "sf01_shuffle_mb": a,
            "sf1_shuffle_mb": b,
            "shuffle_ratio": round(b / a, 2) if a else None,
        }
        print(f"# {name}: {out[name]}", file=sys.stderr)
    spark.sparkContext.setJobGroup("", "")

    # streaming PSI monitor throughput at both scales: rows/s through
    # the epoch-idempotent foreachBatch sink (reference histogram
    # frozen from the same scale's events; fresh monitor/checkpoint
    # dirs per run so every epoch publishes)
    import shutil

    for label, d in () if skip_streaming else (("sf01", SF01_DIR), ("sf1", SF1_DIR)):
        from bigquery_postgres_events_etl_spark.streaming.stream import (
            run_streaming_psi_monitor,
        )

        work = os.path.join(SF1_DIR, f"_psi_{label}")
        shutil.rmtree(work, ignore_errors=True)
        # the file-stream source needs a DIRECTORY; the driver fixture
        # is a single file — stage it into one (hardlink, no copy cost)
        src_dir = os.path.join(d, "events.parquet")
        if os.path.isfile(src_dir):
            staged = os.path.join(work, "src")
            os.makedirs(staged, exist_ok=True)
            os.link(src_dir, os.path.join(staged, "part-00000.parquet"))
            src_dir = staged
        t0 = time.time()
        res = run_streaming_psi_monitor(
            spark,
            source_dir=src_dir,
            reference_dir=d,
            monitor_dir=os.path.join(work, "monitor"),
            checkpoint_dir=os.path.join(work, "ckpt"),
            max_files_per_trigger=4,
        )
        wall = time.time() - t0
        n = sum(r["n_events"] for r in res["rows"])
        out[f"streaming_psi_monitor@{label}"] = {
            "wall_s": round(wall, 2),
            "rows": n,
            "rows_per_s": round(n / wall) if n else None,
            "epochs": len(res["epochs"]),
        }
        print(f"# streaming_psi_monitor@{label}: {out[f'streaming_psi_monitor@{label}']}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
