"""Benchmark harness — runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full plan
execution, no driver collect — results never leave the executors,
matching how these plans run on a cluster).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "etl_flagship",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q8_market_share",
    "q10_returned_items",
    "q18_large_orders",
    "join_sort_merge_fact",
    "window_topk_per_group",
    "sessionization",
    "asof_join_last_click",
    "tumbling_window_hourly",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_topk_bruteforce",
    "text_tfidf_top_terms",
    "multimodal_feature_extract",
]

# Second tier (r6 verdict item #6): the heavy operators added in
# rounds 4-6 that the frozen r1 headline set never measured — without
# them the official perf trend is blind to regressions in exactly the
# most expensive plans. Kept SEPARATE from HEADLINE so the r1-r6
# first-tier totals stay comparable: the final line's "value" remains
# the HEADLINE sum; tier-2 medians ride in "queries2" (+"value2").
TIER2 = [
    "dedup_entity_resolve",
    "dedup_minhash_jaccard_est",
    "etl_scd2_user_state",
    "events_markov_attribution",
    "graph_pagerank_copurchase",
    "pipeline_paragraph_dedup",
    "pipeline_corpus_prep_full",
    "text_nb_quality_score",
    # r11 heavy newcomers (NOTE: tier-2 totals are not comparable to
    # r10 and earlier after this composition change — compare
    # per-query medians in BENCH_DETAIL.json instead)
    "dedup_exact_substring_removal",
    "events_markov_removal_p4",
    "graph_ppr_seeded",
    "graph_hits_copurchase",
    # r12 heavy newcomers (same comparability caveat as r11)
    "text_unigram_lm_train",
    "ml_kmeans_train_q8",
    # r13: the former 50s heavyweight, now fused-Viterbi (~4s) —
    # tracked so a regression in the kernel path is caught
    "text_unigram_encode_trained",
    # r14: the third tokenizer's full train+encode path (same
    # comparability caveat — compare per-query medians)
    "text_wordpiece_encode_trained",
]


def noop_run(spark, fn, sf_dir: str, group: str) -> float:
    """Build ``fn(spark, sf_dir)`` and run it into the noop sink under
    job group ``group``; return the wall seconds (build included). The
    noop sink forces full plan execution with no driver collect —
    results never leave the executors, as on a cluster. The one run
    protocol the measurement tools share."""
    spark.sparkContext.setJobGroup(group, group)
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _group_job_ids(spark, group: str) -> list[int]:
    """Ids of job group ``group``'s jobs, once the listener bus has
    delivered every event to the driver's status store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _last_attempt(store, stage_id: int):
    """Stage ``stage_id``'s last attempt in the status store ``store``,
    or None once evicted (the store drops skipped stages first)."""
    from py4j.protocol import Py4JJavaError

    try:
        return store.lastStageAttempt(stage_id)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.util.NoSuchElementException":
            raise
        return None


def group_metrics(spark, group: str) -> dict:
    """Job group ``group``'s ``jobs``, ``job_s`` (summed submission →
    completion), and ``tasks``, ``input_records``, ``shuffle_read_mb``
    and ``shuffle_mb`` (shuffle write) summed over non-skipped stages,
    read from the driver's status store over py4j (no UI needed); all
    zero for a group that ran no job. Read soon after the group runs:
    the store keeps only the newest 1000 jobs and 1000 stages, and a
    stage it no longer holds counts as skipped. Wall clock on a shared
    machine swings ±30%; job counts and bytes don't, so these are the
    plan-health signal."""
    store = spark.sparkContext._jsc.sc().statusStore()
    m = {"jobs": 0, "job_s": 0.0, "tasks": 0, "input_records": 0,
         "shuffle_read_mb": 0.0, "shuffle_mb": 0.0}
    for jid in _group_job_ids(spark, group):
        job = store.job(jid)
        m["jobs"] += 1
        sub, comp = job.submissionTime(), job.completionTime()
        if sub.isDefined() and comp.isDefined():
            m["job_s"] += (comp.get().getTime() - sub.get().getTime()) / 1000
        sids = job.stageIds()
        for k in range(sids.size()):
            st = _last_attempt(store, sids.apply(k))
            if st is None or st.status().toString() == "SKIPPED":
                continue
            m["tasks"] += st.numCompleteTasks()
            # records, not inputBytes: the status store's input bytes
            # under-report a parquet scan about 100x
            m["input_records"] += st.inputRecords()
            m["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            m["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
    m["job_s"] = round(m["job_s"], 3)
    for k in ("shuffle_read_mb", "shuffle_mb"):
        m[k] = round(m[k], 6)  # to the byte: callers gate on these
    return m


def scan_records(spark, group: str) -> list[tuple[str, int]]:
    """(description, rows) of every scan node in the SQL executions
    that ran job group ``group``'s jobs, read from the driver's status
    store over py4j (no UI needed). A parquet scan emits every row of
    the row groups it reads, so its rows are its input records; the
    description names the files or directory scanned."""
    jobs = _group_job_ids(spark, group)
    store = spark._jsparkSession.sharedState().statusStore()
    executions = store.executionsList()
    out = []
    for i in range(executions.size()):
        e = executions.apply(i)
        own = e.jobs()
        if not any(own.contains(j) for j in jobs):
            continue
        values, it = {}, store.executionMetrics(e.executionId()).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        nodes = store.planGraph(e.executionId()).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if not node.name().startswith("Scan"):
                continue
            metrics = node.metrics()
            rows = sum(
                int(values.get(metrics.apply(m).accumulatorId(), "0").replace(",", ""))
                for m in range(metrics.size())
                if metrics.apply(m).name() == "number of output rows"
            )
            out.append((node.desc(), rows))
    return out


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _flag_movers(
    all_runs: dict[str, list[float]],
    prev_med: dict[str, float],
    prev_spread: dict[str, float],
    cap: int = 8,
) -> list[str]:
    """Queries whose pass-1 median moved vs the previous official round
    beyond the noise either round recorded (and beyond a 50 ms absolute
    floor — sub-0.1 s queries wobble ±30% without meaning anything),
    strongest movers (delta/noise) first, capped at ``cap`` so a
    globally-shifted round (container-wide slowdown, or a bench run at
    a different SF than the reference files) stays inside the driver's
    bench timeout instead of re-running everything."""
    flagged = []
    for name, runs in all_runs.items():
        if name not in prev_med:
            continue
        med = _median(runs)
        spread = max(runs) - min(runs)
        noise = max(spread, prev_spread.get(name, 0.0), 0.05)
        if abs(med - prev_med[name]) > noise:
            flagged.append((abs(med - prev_med[name]) / noise, name))
    return [n for _, n in sorted(flagged, reverse=True)[:cap]]


def _previous_round(
    root: str, cpus: int
) -> tuple[dict[str, float], dict[str, float]]:
    """(per-query official medians from the newest BENCH_r*.json,
    per-query spreads from the committed BENCH_DETAIL.json sidecar) —
    the reference the re-run trigger compares against. Missing or
    unparseable files degrade to {} (first round: no re-run pass), and
    so does a newest record taken at a different core count than this
    run's ``cpus``: its medians differ on core count alone."""
    import glob

    med: dict[str, float] = {}
    spread: dict[str, float] = {}
    # filter non-numbered stragglers (e.g. a stray BENCH_rerun.json)
    # BEFORE sorting: a non-match would raise on .group(1) outside the
    # degrade-to-{} try below (r9 ADVICE)
    numbered = []
    for p in glob.glob(os.path.join(root, "BENCH_r*.json")):
        m = re.search(r"r(\d+)\.json$", os.path.basename(p))
        if m:
            numbered.append((int(m.group(1)), p))
    rounds = [p for _, p in sorted(numbered)]
    if rounds:
        try:
            with open(rounds[-1]) as f:
                data = json.load(f)
            if data.get("cpus", cpus) != cpus:
                return {}, {}
            parsed = data.get("parsed", data)  # driver wraps under "parsed"
            if isinstance(parsed, dict):
                for key in ("queries", "queries2"):
                    q = parsed.get(key)
                    if isinstance(q, dict):
                        med.update({k: float(v) for k, v in q.items()})
        except Exception:
            pass
    try:
        with open(os.path.join(root, "BENCH_DETAIL.json")) as f:
            for k, v in json.load(f).get("queries_detail", {}).items():
                spread[k] = float(v.get("spread", 0.0))
    except Exception:
        pass
    return med, spread


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from bigquery_postgres_events_etl_spark.registry import all_queries
    from bigquery_postgres_events_etl_spark.session import get_spark

    spark = get_spark(app_name="bench")
    # the fixtures' naive timestamps are only correct under a UTC
    # session zone; assert the invariant at action time, not just load
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    qs = all_queries()

    # JVM/codegen warmup on the smallest table
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # Protocol (r9, closes the r8 verdict item #3 after the r8 headline
    # moved +6.2% on zero plan changes): FIVE timed runs per query
    # (median-of-5 — robust to two noisy runs, vs one for median-of-3),
    # then any query whose median moved vs the previous official round
    # by more than its recorded noise gets an INTERLEAVED re-run pass:
    # all flagged queries re-run round-robin (A/B/C/A/B/C…), so a slow
    # container phase hits every flagged query equally instead of
    # whichever one it coincided with, and the final median pools all
    # nine runs. Per-query min and spread (max−min) land in the
    # sidecar; the final line carries the summed min alongside the
    # summed median so the driver record itself shows the noise floor.
    root = os.path.dirname(os.path.abspath(__file__))
    cpus = spark.sparkContext.defaultParallelism
    prev_med, prev_spread = _previous_round(root, cpus)

    all_runs: dict[str, list[float]] = {}
    metrics: dict[str, dict] = {}

    def timed_run(name: str, i: int) -> None:
        all_runs[name].append(noop_run(spark, qs[name], sf_dir, f"{name}#r{i}"))

    for name in HEADLINE + TIER2:
        # Cache hygiene: several operators persist() intermediate
        # frames (shingle/signature slivers) and intentionally never
        # unpersist (the returned lazy plan references the cache).
        # Within one query's runs that reuse is the steady-state
        # being measured; ACROSS queries it would accumulate ~18
        # cached frames in this shared session and let the cache
        # manager substitute one query's persisted subtree into a
        # later query's plan — so the slate is wiped per query, same
        # as check_oracle and the driver gate (fresh session there).
        spark.catalog.clearCache()
        all_runs[name] = []
        for i in range(5):
            timed_run(name, i)
        # read the steady-state run's metrics now, between entries and
        # never inside a timed run: the status store keeps only the
        # newest 1000 jobs and stages, so one read after all 34 entries
        # would find most #r1 groups evicted
        metrics[name] = group_metrics(spark, f"{name}#r1")

    flagged = _flag_movers(all_runs, prev_med, prev_spread)
    # Interleaved A/B re-runs: 4 extra rounds, round-robin across the
    # flagged set, so a slow container phase is shared across queries.
    # Each unit is clearCache → one UNTIMED warm run → one timed run:
    # the cache wipe prevents cross-query subtree substitution, and
    # the warm run repopulates each query's own persisted slivers so
    # the timed run measures the same steady state as pass-1 runs 1-4
    # (a bare post-wipe run would be cold and bias the pooled median).
    for i in range(5, 9):
        for name in flagged:
            spark.catalog.clearCache()
            noop_run(spark, qs[name], sf_dir, f"{name}#warm{i}")
            timed_run(name, i)
    spark.sparkContext.setJobGroup("", "")

    timings: dict[str, float] = {}
    timings2: dict[str, float] = {}
    mins: dict[str, float] = {}
    detail: dict[str, dict[str, float]] = {}
    for name, runs in all_runs.items():
        med = round(_median(runs), 3)
        (timings if name in HEADLINE else timings2)[name] = med
        mins[name] = min(runs)
        detail[name] = {
            "median": med,
            "min": round(min(runs), 3),
            "spread": round(max(runs) - min(runs), 3),
            "n_runs": len(runs),
        }

    total = round(sum(timings.values()), 3)
    # The driver captures only the LAST ~2,000 bytes of stdout; r5's
    # final line grew to 2,971 bytes (per-query detail + shuffle) and
    # the round lost its official bench record ("parsed": null). The
    # final line is therefore kept compact — medians only — and the
    # full median/min/spread + shuffle-byte detail goes to a sidecar
    # file, BENCH_DETAIL.json, next to this script.
    sidecar = {
        "queries_detail": detail,
        "shuffle": metrics,
        "sf": sf,
        "cpus": cpus,
        "flagged_rerun": flagged,
        "protocol": (
            "median-of-5 + interleaved warm A/B re-runs (4) for queries "
            "whose median moved past max(own spread, prev spread, 50ms) "
            "vs the previous official round; noop sink, shared warm session"
        ),
    }
    with open(os.path.join(root, "BENCH_DETAIL.json"), "w") as f:
        json.dump(sidecar, f, indent=1)
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "value2": round(sum(timings2.values()), 3),
            "queries2": timings2,
            "value_min": round(sum(mins[n] for n in HEADLINE), 3),
            "value2_min": round(sum(mins[n] for n in TIER2), 3),
            "sf": sf,
        }
    )
    # The driver reads the LAST line of stdout, so print FIRST and
    # only then complain about the length: an assert before the print
    # (the r6 shape) would lose the round's official record to a
    # traceback — the exact failure this guard exists to prevent —
    # and asserts vanish under `python -O`.
    print(line, flush=True)
    if len(line) >= 1500:
        raise SystemExit(
            f"final bench line {len(line)}B > driver tail window (1500B); "
            "the line above was still printed — move per-query timings "
            "to BENCH_DETAIL.json"
        )


if __name__ == "__main__":
    main()
