"""Local mirror of the driver's t2 correctness gate.

Runs every queries() entry at a given sf_dir on Spark AND its
oracle_sql() twin on DuckDB, then compares row count, column names, and
an order-insensitive value multiset. Exit code 1 on any mismatch.

It is also the repo's one oracle runner: ``--corpus NAME`` runs a
named sweep instead (CORPORA below), legs of entries checked on
corpora the sf fixtures never reach, all in one SparkSession. Each leg
names the entries expected to fail on it, and that set is checked both
ways: an unexpected fail is a finding, and so is an expected fail that
passes (a guard was removed, or a known divergence closed). Exit code
1 on any finding.

Usage: python tools/check_oracle.py [sf_dir] [name_filter ...]
       (a name_filter starting with "!" EXCLUDES matching entries —
        e.g. `dedup_ '!dedup_edit_distance'` runs the dedup family
        minus the ASCII-only-oracle edit-distance twins)
       python tools/check_oracle.py --corpus unicode|degenerate|extreme|sf01
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass
from datetime import date, datetime
from decimal import Decimal
from functools import partial

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return str(v)


def canon_duck_type(t: str) -> str:
    """Canonicalize a DuckDB type name for cross-engine comparison."""
    t = t.strip().upper()
    if t.endswith("[]"):
        return f"array<{canon_duck_type(t[:-2])}>"
    m = {
        "BIGINT": "int64", "INTEGER": "int32", "SMALLINT": "int16",
        "TINYINT": "int8", "HUGEINT": "int128", "UBIGINT": "uint64",
        "DOUBLE": "double", "FLOAT": "float", "VARCHAR": "string",
        "BOOLEAN": "bool", "DATE": "date", "BLOB": "binary",
    }
    if t in m:
        return m[t]
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t.startswith("DECIMAL"):
        return t.lower().replace(" ", "")
    return t.lower()


def canon_spark_type(t: str) -> str:
    """Canonicalize a Spark simpleString dtype for comparison."""
    t = t.strip().lower()
    if t.startswith("array<") and t.endswith(">"):
        return f"array<{canon_spark_type(t[6:-1])}>"
    m = {
        "bigint": "int64", "int": "int32", "smallint": "int16",
        "tinyint": "int8", "double": "double", "float": "float",
        "string": "string", "boolean": "bool", "date": "date",
        "binary": "binary",
    }
    if t in m:
        return m[t]
    if t.startswith("timestamp"):  # timestamp | timestamp_ntz: both µs naive here
        return "timestamp"
    return t


def norm_rows(rows, col_order):
    out = []
    for r in rows:
        out.append(tuple(norm_value(r[i]) for i in col_order))
    out.sort()
    return out


def selected(name: str, filters) -> bool:
    """Whether ``name`` passes the name filters: it contains an
    including filter (or there is none) and no "!" excluding one."""
    include = [f for f in filters if not f.startswith("!")]
    exclude = [f[1:] for f in filters if f.startswith("!")]
    if include and not any(f in name for f in include):
        return False
    return not any(f in name for f in exclude)


def check(spark, sf_dir: str, filters) -> tuple[list[str], list[str]]:
    """Check the entries ``filters`` selects at ``sf_dir``, printing one
    verdict line each; return the names that passed and that failed. A
    rows-only entry (no oracle twin) passes when Spark runs it."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    passed, failures = [], []
    n_run = 0
    for name, fn in qs.items():
        if not selected(name, filters):
            continue
        # the dedup verify tiers persist shingle/signature frames with
        # no later unpersist handle; a full 250-entry run in one JVM
        # would accumulate them — drop caches periodically so the tool
        # measures queries, not heap pressure
        n_run += 1
        if n_run % 25 == 0:
            spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only check, {len(srows)} rows "
                  f"({time.time()-t0:.1f}s)")
            if len(srows) == 0:
                print(f"WARN {name}: 0 rows")
            passed.append(name)
            continue
        try:
            # DESCRIBE binds without executing — gives real DuckDB types
            # (the DBAPI description only exposes generic codes).
            otypes_raw = dict(
                con.execute(
                    f"SELECT column_name, column_type FROM "
                    f"(DESCRIBE ({oracles[name]}))"
                ).fetchall()
            )
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue

        ok = True
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
            ok = False
        else:
            # Type-aware check: the driver's value hash is type-sensitive
            # (r1 'sessionization' failed there on HUGEINT-vs-BIGINT while
            # the str() multiset below matched) — compare canonical types
            # per column so the local gate is at least as strict.
            stypes = {c: canon_spark_type(t) for c, t in sdf.dtypes}
            otypes = {
                c: canon_duck_type(str(t)) for c, t in otypes_raw.items()
            }
            for c in scols:
                if stypes[c] != otypes.get(c):
                    print(f"FAIL {name}: type mismatch on '{c}': "
                          f"spark={stypes[c]} oracle={otypes.get(c)}")
                    ok = False
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            ok = False
        if ok:
            s_order = [scols.index(c) for c in sorted(scols)]
            o_order = [ocols.index(c) for c in sorted(ocols)]
            ns = norm_rows([tuple(r) for r in srows], s_order)
            no = norm_rows(orows, o_order)
            if ns != no:
                ok = False
                ndiff = sum(1 for a, b in zip(ns, no) if a != b)
                print(f"FAIL {name}: value mismatch ({ndiff}/{len(ns)} rows differ)")
                for a, b in zip(ns, no):
                    if a != b:
                        print(f"  spark : {a}\n  oracle: {b}")
                        break
        if ok:
            print(f"OK   {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            passed.append(name)
        else:
            failures.append(name)
    con.close()
    return passed, failures


# Corpus legs are built beside the sf0.001 fixture tables: a leg copies
# them into a scratch directory and rewrites one or two of them.

SMOKE_SF = "/root/testdata/sf0.001"


@dataclass(frozen=True)
class Leg:
    """One sweep leg: ``tables`` is a fixture directory, or a builder
    that writes the ten tables into an empty directory."""

    label: str
    tables: str | Callable[[str], None]
    filters: tuple[str, ...]
    expected_fail: frozenset[str] = frozenset()


def build_tables(d: str, rewrites: dict[str, str]) -> None:
    """Copy the sf0.001 tables into ``d``; each table named in
    ``rewrites`` is written instead by its DuckDB SELECT over ``src``."""
    for t in TABLES:
        src = os.path.join(SMOKE_SF, f"{t}.parquet")
        dst = os.path.join(d, f"{t}.parquet")
        if t not in rewrites:
            shutil.copy(src, dst)
            continue
        with duckdb.connect() as con:
            con.execute(f"CREATE VIEW src AS SELECT * FROM '{src}'")
            con.execute(f"COPY ({rewrites[t]}) TO '{dst}' (FORMAT PARQUET)")


def build_empty(d: str, table: str) -> None:
    """The sf0.001 tables with ``table`` emptied, its schema kept."""
    import pyarrow.parquet as pq

    build_tables(d, {})
    src = pq.read_table(os.path.join(SMOKE_SF, f"{table}.parquet"))
    pq.write_table(src.slice(0, 0), os.path.join(d, f"{table}.parquet"))


UNICODE_TEXTS = [
    "héllo wörld héllo wörld naïve café",
    "héllo wörld héllo wörld naïve cafe",
    "日本語の テキスト には スペース",
    "מימין לשמאל עברית וגם مِن اليمين العربية",
    "emoji 🚀🔥 and 👩‍👩‍👧‍👧 family plus é combining",
    "double  space   runs keep  empty tokens",
    "der schnelle braune fuchs springt über den zaun",
    "ça va très bien merci beaucoup à bientôt",
    "χαίρετε κόσμε αυτό είναι ελληνικό κείμενο",
    "привет мир это русский текст для теста",
]


def build_unicode(d: str) -> None:
    """The sf0.001 tables with ``documents`` replaced by 60 documents
    cycling through UNICODE_TEXTS."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    build_tables(d, {})
    texts = [
        UNICODE_TEXTS[i % len(UNICODE_TEXTS)] + (f" doc{i}" if i % 3 == 0 else "")
        for i in range(60)
    ]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(60), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["xx"] * 60, pa.string()),
            "source": pa.array([f"src{i % 4}" for i in range(60)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(d, "documents.parquet"),
    )


EVENT_FILTERS = (
    "events_", "stats_", "funnel_", "cohort_", "sessionization",
    "tumbling", "sliding", "etl_", "ml_logreg", "ml_perceptron",
)
# ×1e6 crosses every int64 product ceiling while keeping each value's
# x·10^4 under 2^53, so the _dsum double→decimal cast stays exact on
# both engines; sums can still leave the 2^53 band (q1 below)
SCALE = "1e6"
DOC_TILE = 40  # copies of each text: ~1500 tokens per document
DOC_LIMIT = 60  # documents kept in the long-document corpus


CORPORA: dict[str, list[Leg]] = {
    # The sf fixtures are pure ASCII. Entries that read
    # documents.text, on multibyte text with the side effects (empty
    # tokens from repeated spaces, codepoint-vs-byte lengths). First
    # run (r13) caught text_bpe_train_merges minting ('','') merges.
    # dedup_edit_distance_* are excluded: DuckDB's levenshtein() counts
    # bytes where Spark's counts codepoints, so the twins agree on
    # ASCII only; tests/test_unicode_text.py pins Spark's semantics.
    "unicode": [
        Leg("unicode documents", build_unicode, (
            "text_", "dedup_", "!dedup_edit_distance",
            "pipeline_learnability_select",
            "pipeline_context_chunks", "ml_eval_auc_nb", "ml_eval_ece",
            "ml_eval_avg_precision_nb", "ml_eval_mrr_bm25",
            "ml_eval_ndcg_bm25", "ml_eval_pr_curve", "text_unigram",
            "pipeline_doremi_weights",
        )),
    ],
    # Zero-denominator / zero-group / empty-input divergences (Spark
    # ANSI DIVIDE_BY_ZERO vs DuckDB NaN, shrunk codebooks). First run
    # (r13) caught three DIVIDE_BY_ZERO crashes. The collapsed legs
    # (r14) keep the stream non-empty but make one dimension constant,
    # as filtered partitions, tiny tenants and bulk loads do; they
    # caught nine bugs, among them the etl_flagship survivor tie-break.
    "degenerate": [
        Leg("empty documents", partial(build_empty, table="documents"), (
            "text_", "dedup_", "!dedup_edit_distance", "pipeline_", "ml_eval_",
        )),
        Leg("empty embeddings", partial(build_empty, table="embeddings"), (
            "similarity_", "embedding_", "dedup_semantic", "ml_kmeans",
            "pipeline_kcenter",
        ), frozenset({
            # documented fail-loud entries (each docstring's
            # "Degenerate-input asymmetry" note): Spark raises where the
            # oracle would silently shrink the codebook or fit on nothing
            "dedup_semantic_frozen",      # frozen-codebook guard
            "dedup_semantic_fixed_size",  # k clamped to 1, ids 0..0 missing
            "ml_kmeans_train_q8",         # frozen-init guard
            "dedup_semantic_kmeans",      # Spark-ML KMeans.fit on empty input
            "similarity_ann_ivf",         # Spark-ML KMeans.fit on empty input
        })),
        Leg("empty events", partial(build_empty, table="events"), EVENT_FILTERS),
        Leg("one-type events", partial(build_tables, rewrites={
            "events": "SELECT * REPLACE (CAST('click' AS VARCHAR) AS event_type) FROM src",
        }), EVENT_FILTERS),
        Leg("one-user events", partial(build_tables, rewrites={
            "events": "SELECT * REPLACE (CAST(13 AS BIGINT) AS user_id) FROM src",
        }), EVENT_FILTERS),
        Leg("const-ts events", partial(build_tables, rewrites={
            "events": "SELECT * REPLACE (TIMESTAMP '2024-01-05 12:00:00' AS ts) FROM src",
        }), EVENT_FILTERS),
    ],
    # Integer/decimal-overflow divergences at real magnitudes: Spark
    # widening a product where DuckDB's int64 decimal path raises. First
    # run (r14) caught events_ab_sequential's DECIMAL(18) oracle bug.
    "extreme": [
        Leg("extreme events", partial(build_tables, rewrites={
            "events": f"SELECT * REPLACE (value * {SCALE} AS value) FROM src",
        }), EVENT_FILTERS),
        Leg("extreme prices", partial(build_tables, rewrites={
            "orders": f"SELECT * REPLACE (o_totalprice * {SCALE} AS o_totalprice) FROM src",
            "lineitem": f"SELECT * REPLACE (l_extendedprice * {SCALE} AS l_extendedprice) FROM src",
        }), (
            "orders_", "lineitem_", "agg_variance_from_sums",
            "agg_correlation_from_sums", "stats_winsorize_lineitem",
            "rfm_", "q1_pricing_summary",
        ), frozenset({
            # q1's sum_disc_price leaves the 2^53 decimal→double band,
            # where both engines double-round with engine-specific
            # detail (registry.py header); it starts hashing once dsum
            # moves to the both-sides string round-trip
            "q1_pricing_summary",
        })),
        # the ln/fixed-point NB chain and mixture arithmetic on
        # book-length documents (w·loss_fp products near 1e18)
        Leg("extreme documents", partial(build_tables, rewrites={
            "documents": f"""SELECT doc_id, source, lang,
                n_chars * {DOC_TILE} AS n_chars,
                array_to_string(list_transform(range(1, {DOC_TILE} + 1),
                                               i -> text), ' ') AS text
                FROM src WHERE doc_id < {DOC_LIMIT}""",
        }), (
            "text_nb", "text_bm25", "text_tfidf", "text_token_entropy",
            "text_bigram", "text_quality", "text_stats",
            "ml_eval_auc_nb", "ml_eval_ece", "ml_eval_avg_precision_nb",
            "ml_eval_conformal", "pipeline_doremi_weights",
            "pipeline_quality_filter", "pipeline_importance_weight",
        )),
    ],
    # The decimal/ln-hazard cohort at sf0.1, where cross-engine
    # rounding divergences historically surfaced first: every entry
    # with a floor(ln·scale) cost, a decimal-rounded contribution sum
    # or a survival/rate chain. Grown, never shrunk.
    "sf01": [
        Leg("sf0.1 cohort", "/root/testdata/sf0.1", (
            "text_bm25_topk", "events_wilson_ci", "events_psi_drift",
            "events_ewma_halflife", "customer_survival_km",
            "stats_logrank_test", "stats_anova_oneway", "ml_eval_ece",
            "ml_eval_ndcg_bm25", "ml_eval_mrr_bm25", "graph_adamic_adar",
            "text_unigram_lm_train", "text_unigram_encode_trained",
            "pipeline_doremi_weights", "ml_eval_avg_precision_nb",
            "pipeline_learnability_select", "text_wordpiece_train",
            "text_wordpiece_encode_trained", "events_ab_sequential",
            "ml_eval_conformal",
        )),
    ],
}


def findings(failed: list[str], expected_fail: frozenset[str]) -> list[str]:
    """A leg's findings: each unexpected fail, and each expected fail
    that passed or did not run."""
    return [f"UNEXPECTED FAIL {n}" for n in failed if n not in expected_fail] + [
        f"EXPECTED FAIL {n} did not fail" for n in sorted(expected_fail - set(failed))
    ]


def run_corpus(spark, legs: list[Leg]) -> int:
    """Check every leg, printing its verdict; return the finding count."""
    bad = 0
    for leg in legs:
        spark.catalog.clearCache()
        t0 = time.time()
        with tempfile.TemporaryDirectory(prefix="oracle_corpus_") as sf_dir:
            if isinstance(leg.tables, str):
                sf_dir = leg.tables
            else:
                leg.tables(sf_dir)
            passed, failed = check(spark, sf_dir, leg.filters)
        found = findings(failed, leg.expected_fail)
        print(f"{leg.label}: {len(passed)} ok, {len(failed)} fail, "
              f"{len(found)} findings ({time.time() - t0:.0f}s)")
        for f in found:
            print(f"  {f}")
        bad += len(found)
    print(f"\n{bad} findings")
    return bad


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("sf_dir", nargs="?")
    p.add_argument("filters", nargs="*")
    p.add_argument("--corpus", choices=sorted(CORPORA))
    args = p.parse_args()
    if args.corpus and args.sf_dir:
        p.error("--corpus takes no sf_dir or filters")

    from bigquery_postgres_events_etl_spark.session import get_spark

    if args.corpus:
        sys.exit(1 if run_corpus(get_spark(), CORPORA[args.corpus]) else 0)
    sf_dir = args.sf_dir or "/root/testdata/sf0.01"
    _, failures = check(get_spark(), sf_dir, args.filters)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
