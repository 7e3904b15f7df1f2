"""analytics_mix: five headline registry entries, one closed-loop client.

Set-up generates seeded tables in the fixture schemas at sf0.1, with
several files and row groups per large table. Before timing, every
entry runs once and its result is compared with its DuckDB
``oracle_sql()`` twin (or checked for rows where it has none); that run
is also the first warm-up, and one untimed pass is the second. The
measured window then runs timed passes, at least three, each running
the entries in a seeded order into the noop sink and clearing the cache
before each entry as ``bench.py`` does. ``pass_s`` is the sum over the
entries of each one's median wall across the timed passes.
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
import time

from common import Context, Op, cpus, log, median
from gen import parquet_glob, write_analytics

# the repo's own oracle normalization and type canonicalization, so this
# check is as strict as tools/check_oracle.py; that module puts its own
# checkout first on sys.path when imported, which is undone here
_saved_path = list(sys.path)
from tools.check_oracle import canon_duck_type, canon_spark_type, norm_rows  # noqa: E402

sys.path[:] = _saved_path

# sf0.1, the fixture scale the headline registry is benchmarked at: on
# 4 cores a warm pass of the entries below is about two thirds
# execution (sf0.01 is half build, half execution)
SF = 0.1
# Five of the 18 bench.HEADLINE entries: every run launches two JVMs in
# set-up and runs each entry twice (check, warm-up) before timing it,
# and the time budget of a run holds five at sf0.1. Kept: the flagship
# pipeline, TPC-H scan-aggregate (q1) and multi-way join (q5), a window
# and a dedup that persists its signatures.
ENTRIES = [
    "etl_flagship", "q1_pricing_summary", "q5_local_supplier_volume",
    "window_topk_per_group", "dedup_minhash_lsh",
]
# the third run of an entry in a fresh JVM is still often slower than
# later ones; a per-entry median over three passes drops it
MIN_TIMED_PASSES = 3


def result_key(columns: list[str], types: dict[str, str], rows) -> tuple[int, dict, str]:
    """(row count, canonical type per column, order-insensitive digest of
    the values normalized by ``tools/check_oracle.norm_rows``)."""
    order = [columns.index(c) for c in sorted(columns)]
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for r in norm_rows([tuple(r) for r in rows], order):
        h.update(repr(r).encode())
    return len(rows), types, h.hexdigest()


def oracle_keys(data_dir: str, names: list[str]) -> dict[str, tuple]:
    """:func:`result_key` of each named entry's DuckDB twin."""
    import duckdb

    from bigquery_postgres_events_etl_spark.registry import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {cpus()}")
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{parquet_glob(data_dir, t)}')")
        out = {}
        for n in names:
            if n in oracles:
                types = {c: canon_duck_type(str(t)) for c, t in con.execute(
                    f"SELECT column_name, column_type FROM (DESCRIBE ({oracles[n]}))"
                ).fetchall()}
                res = con.execute(oracles[n])
                out[n] = result_key([d[0] for d in res.description], types, res.fetchall())
        return out
    finally:
        con.close()


def run(ctx: Context, tracer_factory) -> dict:
    from bigquery_postgres_events_etl_spark.io import load_table
    from bigquery_postgres_events_etl_spark.registry import all_queries

    data = os.path.join(ctx.work, "data")

    def prepare(spark) -> None:
        ctx.fresh_dir("data")
        write_analytics(ctx.seed, SF, data)
        load_table(spark, data, "lineitem").count()

    ctx.set_up(prepare)
    spark = ctx.spark
    queries = all_queries()
    rng = random.Random(ctx.seed)

    # output check, which is also the warm-up: every entry once, collected
    want = oracle_keys(data, ENTRIES)
    for name in rng.sample(ENTRIES, len(ENTRIES)):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            df = queries[name](spark, data)
            cols, rows = df.columns, df.collect()
            types = {c: canon_spark_type(t) for c, t in df.dtypes}
            err = None
        except Exception as e:  # an exception is a failed operation
            err = repr(e)
        wall = time.perf_counter() - t0
        if err:
            ctx.record(Op(f"check:{name}", wall, False, False, err))
        elif name in want:
            got = result_key(cols, types, rows)
            exp = want[name]
            ok = got == exp
            ctx.record(Op(f"check:{name}", wall, False, ok,
                          "" if ok else f"spark {got[0]} rows {got[1]} {got[2][:12]} != "
                          f"oracle {exp[0]} rows {exp[1]} {exp[2][:12]}", len(rows)))
        else:  # no DuckDB twin: the rows-only check
            ctx.record(Op(f"check:{name}", wall, False, len(rows) > 0,
                          "" if rows else "no rows", len(rows)))

    tracer = tracer_factory(spark)

    def execute(name: str, traced: bool, kind: str = "") -> float:
        spark.catalog.clearCache()
        if tracer is not None:
            tracer.enabled = traced
            tracer.op += 1
        t0 = time.perf_counter()
        try:
            if tracer is None:
                queries[name](spark, data).write.format("noop").mode("overwrite").save()
            else:
                with tracer.span("op.entry"):
                    with tracer.span(f"operators.{name}") as s:
                        df = queries[name](spark, data)
                        if s is not None:
                            s["attrs"]["result"] = df
                    with tracer.span("exec.action"):
                        df.write.format("noop").mode("overwrite").save()
            err = None
        except Exception as e:  # an exception is a failed operation
            err = repr(e)
        wall = time.perf_counter() - t0
        if tracer is not None:
            tracer.enabled = False
            if traced and not err:
                tracer.end_op(persisted_rdds=tracer.persisted_rdds())
        ctx.record(Op(kind + name, wall, traced, err is None, err or "",
                      op_id=tracer.op if tracer is not None else -1))
        return wall

    # an untimed warm-up pass: the second run of an entry is still
    # markedly slower than later ones
    for name in rng.sample(ENTRIES, len(ENTRIES)):
        execute(name, False, "warm:")
    t_begin = time.perf_counter()

    walls: dict[str, list[float]] = {name: [] for name in ENTRIES}
    passes = 0
    plain: list[float] = []
    overhead: list[float] = []
    while passes < MIN_TIMED_PASSES or time.perf_counter() - t_begin < ctx.seconds:
        for i, name in enumerate(rng.sample(ENTRIES, len(ENTRIES))):
            if tracer is None:
                walls[name].append(execute(name, False))
                continue
            # traced runs pair every traced execution with an untraced
            # one, alternating which goes first
            first = (i + passes) % 2 == 0
            a = execute(name, first)
            b = execute(name, not first)
            traced_s, plain_s = (a, b) if first else (b, a)
            walls[name].append(traced_s)
            plain.append(plain_s)
            overhead.append(traced_s - plain_s)
        passes += 1
    pass_s = sum(median(w) for w in walls.values())

    e2e = [o.wall_s for o in ctx.ops if not o.traced and ":" not in o.kind]
    log(f"analytics_mix: {passes} passes")
    return {
        "pass_s": pass_s,
        "summary": {
            "pass_s": (pass_s, "s"),
            "query_p50_s": (median(e2e), "s"),
            "passes": (passes, "count"),
        },
        "tracer": tracer,
        "traced_ops": {o.op_id for o in ctx.ops if o.traced},
        "passes": passes,
        "traced_stats": [],
        "window": "exec.action",
        "overhead_s": sum(overhead) / passes,
        "untraced_pass_s": sum(plain) / passes,
    }
