"""Scoped cache lifecycle for long-lived sessions.

Operators in this engine persist() shared intermediates (shingle
frames, token-count slivers, normed vector tables) and deliberately
never unpersist them — the returned LAZY plan references the cache, so
an unpersist inside the operator would drop the data before the caller
ever executes the plan. That contract is correct per entry but leaks
across entries in a LONG-LIVED session: a service or notebook invoking
many entries accumulates one cached frame per persist() site (~18
across the registry) until JVM LRU eviction, and Spark's CacheManager
will substitute one entry's persisted subtree into a LATER entry's
plan whenever the subtrees match — correct, but it silently couples
plans and pins memory (r6 verdict item #4: the bench/oracle harnesses
clearCache per entry, so only services saw the leak).

``scoped_cache`` is the missing lifecycle: everything persisted (and
materialized) during the scope dies with the scope. It is the
"clearCache per run" policy — coarse but exactly right for a runner
whose unit of work is one registry entry / one ETL run and which holds
no caches of its own across runs. Callers that DO hold long-lived
caches should persist them outside any scope... which no current
caller does (asserted by the bounded-cache test).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession


def cached_dataframe_plans(spark: SparkSession) -> bool:
    """True iff the session's CacheManager holds any cached
    DataFrame plan (materialized or lazily marked)."""
    return not spark._jsparkSession.sharedState().cacheManager().isEmpty()


def persistent_rdd_count(spark: SparkSession) -> int:
    """Number of RDDs with storage currently registered on the
    SparkContext — cached DataFrames appear here once MATERIALIZED
    (a lazy ``persist()`` that never ran a job does not)."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@contextmanager
def scoped_cache(spark: SparkSession):
    """Run a unit of work, then drop every DataFrame cache it created.

    clearCache is session-global by design: the scope's contract is
    "this runner owns the session's cache lifetime between runs", the
    situation of any one-entry-at-a-time driver. Nesting
    is therefore meaningless (the inner exit clears the outer scope's
    caches too) — don't nest.
    """
    try:
        yield spark
    finally:
        spark.catalog.clearCache()
