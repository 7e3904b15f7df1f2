"""Interleaved CROSS-COMMIT A/B bench (r10 verdict item 1).

BENCH_r10 moved +12% on queries whose code did not change between r9
and r10, and the round's pagerank plan win did not reproduce in the
driver capture — container drift and code effect were confounded
because each round's bench runs in its own session, minutes apart.
This tool de-confounds them: several code states (git worktrees of the
r9/r10/r11 closing commits) alternate ROUND-ROBIN inside ONE warm
SparkSession/JVM, so any slow container phase hits every commit
equally and the per-query deltas that remain are code, not drift.

Mechanics per measurement: purge the package from sys.modules, point
sys.path at the target tree, re-import its registry, clearCache, one
UNTIMED warm run (repopulates the query's own persisted slivers —
same steady-state protocol as bench.py's interleaved re-runs), one
timed run through the noop sink — both via ``bench.noop_run``.

Usage:
    python tools/ab_bench.py r9=/path/to/r9tree r11=. -- q1 dedup_exact
    (default queries: the five r10-verdict movers + tier-2 regressors)
"""

from __future__ import annotations

import json
import os
import statistics
import sys

MOVERS = [
    "graph_pagerank_copurchase",
    "dedup_exact",
    "tumbling_window_hourly",
    "q18_large_orders",
    "q1_pricing_summary",
    "dedup_entity_resolve",
    "text_nb_quality_score",
    "etl_scd2_user_state",
    # r12 verdict item 3: the two spread-dominated entries whose
    # driver history kept needing manual adjudication — permanently
    # in the interleaved set so the pooled medians settle it
    "etl_flagship",
    "dedup_minhash_jaccard_est",
    # r13 verdict item 2: the only two >1.2× single-capture movers in
    # BENCH_r13 (+33%/+21% on code unchanged since r11), both bench-
    # protocol-sensitive (a plain session timed ppr 2× the bench
    # capture) and never interleaved before — pooled medians
    # adjudicate the r13 captures
    "graph_ppr_seeded",
    "events_markov_removal_p4",
    # r14 verdict item 2: the three largest r14 single-capture
    # regressions (0.59x/0.71x/0.72x), all on code untouched that
    # round — the 32-core capture was hit by a container throttle
    # wave (the 8-core control minutes later ran FASTER on tier-2);
    # permanently interleaved so pooled medians adjudicate
    "q10_returned_items",
    "q8_market_share",
]

PKG = "bigquery_postgres_events_etl_spark"
ROUNDS = 4


def _activate(root: str):
    """Swap the live package for the one under ``root`` and return its
    fresh ``all_queries()`` dict."""
    for k in [k for k in sys.modules if k == PKG or k.startswith(PKG + ".")]:
        del sys.modules[k]
    sys.path = [p for p in sys.path if not os.path.isdir(os.path.join(p, PKG))]
    sys.path.insert(0, os.path.abspath(root))
    from bigquery_postgres_events_etl_spark.registry import all_queries

    return all_queries()


def main() -> None:
    args = sys.argv[1:]
    if "--" in args:
        cut = args.index("--")
        states, queries = args[:cut], args[cut + 1 :]
    else:
        states, queries = args, MOVERS
    pairs = [s.split("=", 1) for s in states]
    assert pairs and all(len(p) == 2 for p in pairs), "label=path pairs required"

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # the CURRENT tree builds the shared session; worktree imports
    # reuse it via getOrCreate
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import noop_run
    from bigquery_postgres_events_etl_spark.session import get_spark

    spark = get_spark(app_name="ab_bench")
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()  # warmup

    runs: dict[tuple[str, str], list[float]] = {}
    for rnd in range(ROUNDS):
        for label, root in pairs:
            qs = _activate(root)
            for name in queries:
                if name not in qs:
                    continue  # entry doesn't exist at this commit
                spark.catalog.clearCache()
                noop_run(spark, qs[name], sf_dir, f"{label}:{name}#w{rnd}")
                runs.setdefault((label, name), []).append(
                    noop_run(spark, qs[name], sf_dir, f"{label}:{name}#t{rnd}")
                )
                print(
                    f"  round {rnd} {label:>4} {name}: "
                    f"{runs[(label, name)][-1]:.3f}s",
                    file=sys.stderr,
                )

    table: dict[str, dict[str, dict[str, float]]] = {}
    for (label, name), xs in runs.items():
        table.setdefault(name, {})[label] = {
            "median": round(statistics.median(xs), 3),
            "min": round(min(xs), 3),
            "spread": round(max(xs) - min(xs), 3),
            "n": len(xs),
        }
    print(json.dumps({"sf_dir": sf_dir, "rounds": ROUNDS, "queries": table}))


if __name__ == "__main__":
    main()
