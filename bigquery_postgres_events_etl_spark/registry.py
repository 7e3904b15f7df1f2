"""Query registry — the oracle-checked operator surface.

Every operator from SURVEY §2 (plus the query-layer and LLM-pipeline
operators) registers here as a named (spark_fn, oracle_sql) pair. The
driver runs the Spark side and the DuckDB side at sf0.01 and compares
row-count + schema + order-insensitive value-hash.

Conventions that make the hashes match:
- every computed column is aliased identically on both sides;
- double aggregations go through exact DECIMAL sums (functions.scalars
  dsum/davg) — order-independent, bit-exact across engines;
- window/dedup survivors are made deterministic with explicit
  tie-break ordering;
- fixture ``events.ts`` is parquet timestamp[us] (isAdjustedToUTC=false)
  at every scale: Spark reads it with the declared TIMESTAMP type in the
  UTC session zone (io.load_table), the oracle reads the same
  wall-clock values — identical µs instants. A legacy TIMESTAMP(NANOS)
  file is read as int64 nanos and truncated to µs, matching the
  oracle's ``CAST(ts AS TIMESTAMP)``.
- transcendental boundary safety: NO compared column may be a
  decimal-rounding of a transcendental (ln/exp/pow/sqrt-of-non-square)
  of row data. libm and the JVM may differ by 1 ulp, and "rounding to
  DECIMAL(20,9) absorbs the ulp" fails exactly when a value lands
  within an ulp of a rounding boundary — the r5
  ``pipeline_weighted_sample`` driver hash-fail. Transcendentals may
  ORDER or SELECT rows (a top-k selection flips only if two keys
  collide within an ulp at the k-th boundary — far rarer, and
  tie-broken by id), but the compared output must be integers, exact
  decimals, or values both engines compute bit-identically. Compared
  transcendental AGGREGATES are acceptable only when every input is
  integer/decimal-exact and there is a single IEEE chain at the end
  in a deterministic order (the stat-test suite pattern).
- numeric-literal type hazard: DuckDB parses a bare decimal literal
  (``1.96``) as DECIMAL, not DOUBLE, so a "shared constant" in oracle
  SQL silently takes a different arithmetic path than Spark's
  ``F.lit(float)`` — wrap oracle-side float constants in
  ``CAST(... AS DOUBLE)`` (the r11 events_wilson_ci find).
- decimal→double cast hazard (the r14 extreme-values find): once a
  decimal's SCALED integer exceeds 2^53 (sums > ~9e11 at scale 4),
  BOTH engines' direct ``CAST(decimal AS DOUBLE)`` double-round —
  DuckDB scales the backing int in floats, and Spark's compact-long
  Decimal path divides longVal/10^s in doubles — with
  engine-specific last-bit detail: empirically they AGREE on some
  sites (stats_anova_oneway's 5e16-scaled moments pass today) and
  DISAGREE on others (q1's sum_disc_price at price×1e6). A one-sided
  "fix" breaks the sites where the float paths happened to align
  (measured in r14: exact-rounding only the oracle flipped anova
  while fixing q1). The ROBUST idiom is the digit-string round-trip
  on BOTH sides — ``.cast("string").cast("double")`` /
  ``CAST(CAST(x AS VARCHAR) AS DOUBLE)`` — which the stat-test
  family (_dsum/_dsum_sq) already uses; migrating the shared
  functions.scalars dsum/davg (and their oracle twins) to it is the
  scheduled r15 item (engine-side change → PLAN_CHANGED_REATTEST
  flags for the TPC-H tier, which needs a fresh rotation budget).
  Until then `tools/check_oracle.py --corpus extreme` pins the band:
  in-band corpora must hash, and q1 at price×1e6 is the
  asserted-divergent marker.
- double→decimal cast hazard: even for NON-transcendental doubles,
  ``CAST(double AS DECIMAL(p,s))`` takes engine-specific paths (Spark
  converts exactly via BigDecimal; DuckDB scales in floats), which
  disagree when x·10^s lands within float error of a rounding
  boundary — the risk grows with the magnitude of x·10^s (ulp grows;
  one of ~1000 logrank terms flipped at sf0.1). When rounding a
  computed double for an order-independent decimal sum, scale
  EXPLICITLY in IEEE arithmetic instead: ``floor(x·10^s + 0.5)`` cast
  to an integer decimal — the same chain on both engines, so the
  scaled integers are bit-identical (see stats_logrank_test).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QuerySpec = tuple[Callable[[SparkSession, str], DataFrame], str | None]

_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under
    ``name`` with its DuckDB oracle SQL (None → rows-only check)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        # fail LOUDLY on a duplicate name: register() used to silently
        # overwrite, so a second registration shadowed the certified
        # first one and the registry count hid the loss (found the
        # hard way in r13 — a new ml_eval_auc_nb silently replaced the
        # existing one). A TRUE collision is two different modules
        # claiming one name; a same-module re-registration is an
        # importlib.reload of that one operator module re-executing
        # its register() calls against the live _REGISTRY (reloading
        # registry.py itself rebuilds _REGISTRY, but reloading an
        # operator module in isolation does not — the r13 ADVICE
        # edge), which must stay legal for interactive sessions. A
        # reload re-executes the SAME definitions, so (module,
        # qualname) both match; an accidental duplicate is a second
        # function claiming the name, so at least one differs. (The
        # one blind spot — re-defining the same function name twice in
        # one file — also shadows the function itself: flake8 F811.)
        prev = _REGISTRY.get(name)
        if prev is not None and (
            prev[0].__module__ != fn.__module__
            or prev[0].__qualname__ != fn.__qualname__
        ):
            raise ValueError(
                f"duplicate registry entry {name!r}: already registered "
                f"by {_REGISTRY[name][0].__module__}"
            )
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


# The driver's correctness gate checks a prefix-sample of this dict
# (the first 50, in registration order as exposed by all_queries).
# Every entry is locally verified by tools/check_oracle.py; the
# ordering rotates the staleness frontier to the front — never-
# attested entries first, then plan-changed re-attests (flagged in
# attestation.PLAN_CHANGED_REATTEST), then oldest-attestation-first —
# so each round's CORRECTNESS file attests what has the weakest hard
# signal instead of re-checking the same 50.
#
# The order is DERIVED from the recorded CORRECTNESS_r*.json files at
# first use (attestation.driver_priority; with no history on disk
# every entry ties as never-attested, so hash-checked entries lead,
# each group in registration order). The invariants are pytest-pinned
# in tests/test_rotation.py: the front 50 IS the staleness frontier,
# no green entry precedes a never-attested one, and the order is
# deterministic.

_PRIORITY_CACHE: list[str] | None = None


def _ordered() -> dict[str, QuerySpec]:
    global _PRIORITY_CACHE
    names = list(_REGISTRY)
    if _PRIORITY_CACHE is None or set(_PRIORITY_CACHE) != set(names):
        from .attestation import driver_priority

        oracle_names = frozenset(
            n for n, spec in _REGISTRY.items() if spec[1] is not None
        )
        _PRIORITY_CACHE = driver_priority(names, has_oracle=oracle_names)
    return {n: _REGISTRY[n] for n in _PRIORITY_CACHE}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {k: v[0] for k, v in _ordered().items()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {k: v[1] for k, v in _ordered().items() if v[1] is not None}


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from .operators import (  # noqa: F401
        queries_etl,
        queries_relational,
        queries_window,
        queries_temporal,
        queries_dedup,
        queries_similarity,
        queries_text,
        queries_multimodal,
        queries_sql,
        queries_scalars,
        queries_stats,
        queries_stattests,
        queries_skew,
        queries_agg2,
        queries_misc,
        queries_tpch,
        queries_analytics,
        queries_pipeline,
        zorder,
        graph,
        # LAST: new-wave entries register after every existing entry so
        # the never-attested rotation tier keeps the older frontier in
        # the driver's front-50 (ties in the never tier break by
        # registration order)
        queries_tpch_ps,
        queries_tpch_dates,
        queries_graph,
    )

    _LOADED = True
