"""REAL JDBC execution leg over embedded Apache Derby.

The reference writes PostgreSQL over a live connection; this container
has no PG server or network — but Spark SHIPS a complete embedded SQL
engine with a JDBC driver (Derby, on every executor classpath), so the
actual Spark JDBC code paths can execute for real:

- `df.write.format("jdbc")` — executor-parallel batched inserts;
- `JdbcTableSource.load` — the partition-split parallel read
  (numPartitions real splits, fetchsize, pushdown);
- `write_jdbc_merge_append` — the reference's conflict-skipping
  retention contract (`ON CONFLICT DO NOTHING`,
  extract_bq.py:187-267) as staging + ANSI MERGE, idempotent under
  replay (the exactly-once-effect sink contract).

What stays env-blocked is only the PostgreSQL WIRE target (the last
test, gated on SPARK_GRAFT_PG_JDBC_URL); the JDBC mechanics themselves
are no longer stubbed anywhere.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture()
def derby_url(tmp_path):
    return f"jdbc:derby:{tmp_path}/db;create=true"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_jdbc_roundtrip_and_partition_parallel_read(spark, derby_url):
    from bigquery_postgres_events_etl_spark.sources.connectors import (
        JdbcTableSource,
    )

    df = spark.createDataFrame(
        [(i, f"u{i % 3}", float(i) * 1.5) for i in range(1, 21)],
        "id long, name string, v double",
    )
    (
        df.write.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", "events_t")
        .option("driver", DRIVER)
        .mode("append")
        .save()
    )
    src = JdbcTableSource(
        derby_url, "events_t", partition_column="id", num_partitions=4,
        driver=DRIVER,
    )
    back = src.load(spark, 1, 20)
    assert _rows(back) == _rows(df)
    # the partition split is REAL: four concurrent range queries
    assert back.rdd.getNumPartitions() == 4
    # predicate travels through the JDBC scan
    assert back.where("id > 15").count() == 5


def test_jdbc_merge_append_skips_conflicts_and_replays_idempotently(
    spark, derby_url
):
    from bigquery_postgres_events_etl_spark.sources.sinks import (
        write_jdbc_merge_append,
    )

    schema = "event_id long, user_id long, event_type string"
    base = spark.createDataFrame(
        [(1, 10, "click"), (2, 11, "view"), (3, 12, "purchase")], schema
    )
    (
        base.write.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", "app_events")
        .option("driver", DRIVER)
        .mode("append")
        .save()
    )

    # overlapping batch: 2 collides (same key, conflicting payload — the
    # retention contract keeps the FIRST write), 4 and 5 are new
    batch = spark.createDataFrame(
        [(2, 99, "SHOULD_NOT_REPLACE"), (4, 13, "click"), (5, 14, "view")],
        schema,
    )
    write_jdbc_merge_append(
        batch, derby_url, "app_events", conflict_keys=["event_id"],
        driver=DRIVER,
    )

    def read():
        return (
            spark.read.format("jdbc")
            .option("url", derby_url)
            .option("dbtable", "app_events")
            .option("driver", DRIVER)
            .load()
        )

    expect = [
        (1, 10, "click"),
        (2, 11, "view"),  # conflict SKIPPED, original retained
        (3, 12, "purchase"),
        (4, 13, "click"),
        (5, 14, "view"),
    ]
    assert _rows(read()) == expect

    # crash-and-retry replay: merging the same batch again changes
    # NOTHING — the exactly-once-effect contract the watermark loop
    # relies on (commit-then-advance can safely re-run the write)
    write_jdbc_merge_append(
        batch, derby_url, "app_events", conflict_keys=["event_id"],
        driver=DRIVER,
    )
    assert _rows(read()) == expect


def _stage_tables(spark, url):
    """The per-call staging tables left in the database."""
    names = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("driver", DRIVER)
        .option("query", "SELECT TABLENAME FROM SYS.SYSTABLES")
        .load()
        .collect()
    )
    return [r[0] for r in names if "_STAGE_" in r[0]]


def test_merge_append_failure_drops_staging_then_replay_completes(spark, derby_url):
    """A staging write that fails mid-job (one partition holds a row
    wider than its VARCHAR pin, so that partition's inserts raise while
    the others commit) raises to the caller, leaves the target as it
    was and leaves no staging table behind; a replay without the
    poison row then inserts the batch's distinct keys once, and a
    second replay inserts nothing."""
    from bigquery_postgres_events_etl_spark.sources.sinks import (
        write_jdbc_merge_append,
    )

    keys = ["user_id", "event_timestamp", "event_name"]
    schema = "user_id string, event_timestamp long, event_name string"

    def merge(df):
        return write_jdbc_merge_append(
            df, derby_url, "leak_events", conflict_keys=keys, driver=DRIVER,
            writer_options={
                "createTableColumnTypes": "user_id VARCHAR(10), event_name VARCHAR(10)"
            },
        )

    def target():
        return _rows(
            spark.read.format("jdbc").option("url", derby_url)
            .option("dbtable", "leak_events").option("driver", DRIVER).load()
        )

    base = [("b0", 0, "click"), ("b1", 1, "view")]
    assert merge(spark.createDataFrame(base, schema)) == 2

    rows = [(f"u{i % 7}", i, "click") for i in range(1, 41)]
    rows += rows[:5]  # intra-batch duplicates
    clean = spark.createDataFrame(rows, schema)
    poisoned = clean.union(spark.createDataFrame([("u" * 40, 99, "click")], schema))
    # keep the deduped batch in several partitions, so the staging
    # write commits the clean partitions before the poisoned one fails
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        with pytest.raises(Exception):
            merge(poisoned)
    finally:
        spark.conf.set(coalesce, prev)
    assert target() == sorted(base)
    assert _stage_tables(spark, derby_url) == []

    assert merge(clean) == len(set(rows))
    assert target() == sorted(base + list(set(rows)))
    assert merge(clean) == 0
    assert _stage_tables(spark, derby_url) == []


def test_incremental_watermark_loop_into_real_jdbc(spark, derby_url, sf_dir, tmp_path):
    """The reference's PRIMARY flow (watermarked incremental extract →
    conflict-skipping append into a live SQL database,
    flask_server.py:82-229) end-to-end against a REAL JDBC engine:
    run 1 loads history-to-watermark, a crash-and-retry replays run 1
    (exactly-once effect: zero new rows), run 2 picks up only rows
    above the advanced watermark. Parquet source stands in for
    BigQuery, embedded Derby for PostgreSQL — every mechanism between
    them (watermark predicate, dedup projection, executor-parallel
    JDBC staging write, set-based MERGE, commit-then-advance) is the
    real code path."""
    from bigquery_postgres_events_etl_spark.io import load_table
    from bigquery_postgres_events_etl_spark.operators.etl import flagship_pipeline
    from bigquery_postgres_events_etl_spark.sources.sinks import (
        write_jdbc_merge_append,
    )
    from bigquery_postgres_events_etl_spark.sources.watermark import (
        read_watermark_us,
        write_watermark_us,
    )

    state = str(tmp_path / "wm.json")
    # Derby maps Spark strings to CLOB, which MERGE cannot compare on;
    # pin the key-participating string columns to VARCHAR (the same
    # option a PG deployment uses to control DDL)
    coltypes = "event_name VARCHAR(128), event_name_detail VARCHAR(512)"  
    events = load_table(spark, sf_dir, "events")
    lo, hi = events.selectExpr(
        "min(unix_micros(ts))", "max(unix_micros(ts))"
    ).first()
    mid = (lo + hi) // 2
    keys = ["user_id", "event_timestamp", "event_name"]

    def read_target():
        return (
            spark.read.format("jdbc")
            .option("url", derby_url)
            .option("dbtable", "application_events")
            .option("driver", DRIVER)
            .load()
        )

    def run_once(now_us):
        wm = read_watermark_us(state, lookback_hours=10**6, now_us=now_us)
        batch = flagship_pipeline(events, watermark_us=wm).where(
            F.col("event_timestamp") <= now_us
        )
        n, max_ts = batch.agg(
            F.count(F.lit(1)), F.max("event_timestamp")
        ).first()
        if n:
            write_jdbc_merge_append(
                batch, derby_url, "application_events",
                conflict_keys=keys, driver=DRIVER,
                writer_options={"createTableColumnTypes": coltypes},
            )
        if max_ts is not None:
            write_watermark_us(state, max_ts)  # ST4: after the sink commit
        return n

    # bootstrap the target table (Spark JDBC writer creates it empty)
    (
        flagship_pipeline(events).limit(0)
        .write.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", "application_events")
        .option("driver", DRIVER)
        .option("createTableColumnTypes", coltypes)
        .mode("append")
        .save()
    )

    n1 = run_once(mid)
    count1 = read_target().count()
    assert n1 > 0 and count1 == n1

    # crash-before-advance replay: rewind the watermark and rerun the
    # SAME window — the MERGE must insert nothing new
    # the watermark store is forward-only by design, so the crash is
    # simulated by restoring the PRE-advance file contents directly
    open(state, "w").write(str(lo - 1))
    n_replay = run_once(mid)
    assert read_target().count() == count1, "replay broke exactly-once effect"
    assert n_replay == n1  # at-least-once read really did refetch

    # advance: run 2 takes only rows above the watermark
    n2 = run_once(hi)
    total = read_target().count()
    assert n2 > 0 and total == count1 + n2
    full = flagship_pipeline(events).count()
    assert total == full, "two windows must reconstruct the full extract"


def test_streaming_etl_to_real_jdbc_is_exactly_once(spark, derby_url, sf_dir, tmp_path):
    """Structured Streaming → real JDBC database: the flagship stream
    drains through executor-parallel staging + MERGE (zero per-row
    Python in the sink), matches the batch pipeline's row set, and a
    RESTART on the same checkpoint (plus a forced re-run of the same
    source) inserts nothing new — checkpoint replay ∘ MERGE = effective
    exactly-once on the database."""
    from bigquery_postgres_events_etl_spark.io import load_table
    from bigquery_postgres_events_etl_spark.operators.etl import flagship_pipeline
    from bigquery_postgres_events_etl_spark.streaming.stream import run_streaming_etl

    coltypes = "event_name VARCHAR(128), event_name_detail VARCHAR(512)"
    events = load_table(spark, sf_dir, "events")
    # bootstrap the target table
    (
        flagship_pipeline(events).limit(0)
        .write.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", "application_events")
        .option("driver", DRIVER)
        .option("createTableColumnTypes", coltypes)
        .mode("append")
        .save()
    )

    jdbc_target = {
        "url": derby_url,
        "table": "application_events",
        "driver": DRIVER,
        "writer_options": {"createTableColumnTypes": coltypes},
    }

    def run():
        return run_streaming_etl(
            spark,
            sf_dir,
            str(tmp_path / "unused_parquet"),
            str(tmp_path / "ckpt"),
            jdbc_target=jdbc_target,
        )

    assert run()["status"] == "success"

    def target_count():
        return (
            spark.read.format("jdbc")
            .option("url", derby_url)
            .option("dbtable", "application_events")
            .option("driver", DRIVER)
            .load()
            .count()
        )

    expect = flagship_pipeline(events).count()
    assert target_count() == expect

    # restart on the same checkpoint: nothing new to process
    assert run()["status"] == "success"
    assert target_count() == expect

    # fresh checkpoint = full source REPLAY into the same target: the
    # MERGE must skip every already-committed row
    run_streaming_etl(
        spark,
        sf_dir,
        str(tmp_path / "unused_parquet"),
        str(tmp_path / "ckpt2"),
        jdbc_target=jdbc_target,
    )
    assert target_count() == expect


def test_control_plane_trigger_into_real_jdbc(
    spark, derby_url, sf_dir, tmp_path, monkeypatch
):
    """The reference's deployment, whole: POST /trigger on the HTTP
    control plane drives the watermarked incremental run whose sink is
    the REAL JDBC database (staging + MERGE, auto-bootstrapped target).
    First trigger loads everything and advances the watermark; a
    second trigger fetches nothing (watermark) and inserts nothing
    (MERGE) — the idempotent daily-run contract."""
    import json as _json

    from bigquery_postgres_events_etl_spark.operators.etl import flagship_pipeline
    from bigquery_postgres_events_etl_spark.io import load_table
    from bigquery_postgres_events_etl_spark.service import EtlService

    # the fixture's events are historic; widen the watermark fallback
    # so the first run sees them (the reference's ETL_LOOKBACK_HOURS)
    monkeypatch.setenv("ETL_LOOKBACK_HOURS", str(10**7))

    svc = EtlService(
        spark,
        sf_dir,
        str(tmp_path / "wm.txt"),
        str(tmp_path / "unused_parquet"),
        jdbc_target={
            "url": derby_url,
            "table": "application_events",
            "driver": DRIVER,
            "writer_options": {
                "createTableColumnTypes": (
                    "event_name VARCHAR(128), event_name_detail VARCHAR(512)"
                )
            },
        },
    )

    def post_trigger():
        captured = {}

        def start_response(status, headers):
            captured["status"] = status

        body = svc.wsgi_app(
            {"PATH_INFO": "/trigger", "REQUEST_METHOD": "POST"}, start_response
        )
        return captured["status"], _json.loads(b"".join(body))

    status, body = post_trigger()
    assert status.startswith("200")
    r1 = body["result"]
    expect = flagship_pipeline(load_table(spark, sf_dir, "events")).count()
    assert r1["status"] == "success"
    assert r1["records_inserted"] == expect
    assert r1["watermark_advanced"] is True

    target = (
        spark.read.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", "application_events")
        .option("driver", DRIVER)
        .load()
    )
    assert target.count() == expect

    status, body = post_trigger()
    r2 = body["result"]
    assert status.startswith("200") and r2["status"] == "success"
    assert r2["records_fetched"] == 0 and r2["records_inserted"] == 0
    assert target.count() == expect


def test_merge_append_zero_config_string_keys_autocreate(spark, derby_url):
    """r9 regression (found by the README quickstart): with NO
    pre-created target and NO writer_options, string conflict keys
    must not land as Derby CLOBs — the MERGE ON clause cannot compare
    CLOB to CLOB (ERROR 42818). The writer now defaults the string
    KEY columns to VARCHAR(255) (the reference's own key width,
    extract_bq.py:195-205) while non-key strings keep the dialect
    default."""
    from bigquery_postgres_events_etl_spark.sources.sinks import (
        write_jdbc_merge_append,
    )

    schema = "user_id string, event_timestamp long, event_name string, payload string"
    batch = spark.createDataFrame(
        [("u1", 100, "click", "p" * 300),  # payload > 255: must NOT truncate
         ("u2", 200, "view", "q")],
        schema,
    )
    n = write_jdbc_merge_append(
        batch, derby_url, "auto_events",
        conflict_keys=["user_id", "event_timestamp", "event_name"],
        driver=DRIVER,
    )
    assert n == 2
    # replay = 0 inserts; a same-key row with different payload is skipped
    replay = spark.createDataFrame(
        [("u1", 100, "click", "CHANGED"), ("u3", 300, "click", "r")], schema
    )
    assert write_jdbc_merge_append(
        replay, derby_url, "auto_events",
        conflict_keys=["user_id", "event_timestamp", "event_name"],
        driver=DRIVER,
    ) == 1
    back = (
        spark.read.format("jdbc").option("url", derby_url)
        .option("dbtable", "auto_events").option("driver", DRIVER).load()
    )
    rows = {r.user_id: r.payload for r in back.collect()}
    assert rows == {"u1": "p" * 300, "u2": "q", "u3": "r"}


def test_live_postgres_merge_append_replay_idempotent(spark, sf_dir):
    """The Derby tests prove the staging + MERGE mechanics; this runs
    them against a live PostgreSQL 15+ server (ANSI MERGE) when one is
    reachable. Set SPARK_GRAFT_PG_JDBC_URL (e.g.
    ``jdbc:postgresql://localhost:5432/test?user=postgres``) and put
    the PostgreSQL JDBC driver on Spark's classpath; otherwise the test
    skips."""
    import os

    url = os.environ.get("SPARK_GRAFT_PG_JDBC_URL")
    if not url:
        pytest.skip("SPARK_GRAFT_PG_JDBC_URL not set (no PostgreSQL server in this env)")
    from bigquery_postgres_events_etl_spark.io import load_table
    from bigquery_postgres_events_etl_spark.operators.etl import flagship_pipeline
    from bigquery_postgres_events_etl_spark.schemas import APPLICATION_EVENTS_DEDUP_KEY
    from bigquery_postgres_events_etl_spark.sources.sinks import (
        write_jdbc_merge_append,
    )

    pg_driver = "org.postgresql.Driver"
    table = "application_events_test"
    keys = list(APPLICATION_EVENTS_DEDUP_KEY)
    spark._jvm.java.lang.Class.forName(pg_driver)
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.createStatement().executeUpdate(f"DROP TABLE IF EXISTS {table}")
    finally:
        conn.close()

    out = flagship_pipeline(load_table(spark, sf_dir, "events"))
    first = write_jdbc_merge_append(out, url, table, conflict_keys=keys, driver=pg_driver)
    assert first == out.dropDuplicates(keys).count()
    # replay inserts nothing
    assert write_jdbc_merge_append(out, url, table, conflict_keys=keys, driver=pg_driver) == 0
    back = (
        spark.read.format("jdbc").option("url", url)
        .option("dbtable", table).option("driver", pg_driver).load()
    )
    assert back.count() == first
