"""Sinks: CSV export (K1), idempotent append (K4/K5), JDBC upsert
writer (K2/K3/K4).

The reference's sink guarantees, re-expressed for a distributed
writer:
- K1 CSV: exact header set/order of extract_bq.py:149;
- K4 idempotence: `INSERT … ON CONFLICT DO NOTHING` becomes
  (a) intra-batch key-dedup + (b) anti-join against already-loaded
  keys — so re-running a batch never duplicates (ST3's effective
  exactly-once);
- K5 append-only: never overwrite loaded data.

At 100 TB the parquet target would be a date-partitioned lake table;
``partition_by`` threads through so the anti-join's existing-keys scan
prunes to the partitions a batch can touch.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schemas import APPLICATION_EVENTS_DEDUP_KEY, CSV_EXPORT_COLUMNS


def export_csv(df: DataFrame, path: str, single_file: bool = False) -> int:
    """K1 — CSV export with the reference's exact column order
    (extract_bq.py:149). ``single_file`` coalesces to one part for
    byte-level golden-file parity; leave False at scale (parallel
    part files). Returns the rows written, counted by the write job."""
    out = df.select(*[c for c in CSV_EXPORT_COLUMNS if c in df.columns] or df.columns)
    if single_file:
        out = out.coalesce(1)
    written = Observation()
    out = out.observe(written, F.count(F.lit(1)).alias("n"))
    out.write.mode("overwrite").option("header", True).csv(path)
    return written.get["n"]


class TargetLock:
    """Cross-process advisory lock for a parquet sink target.

    The anti-join-then-append in ``idempotent_append_parquet`` is not
    atomic: two concurrent writers (e.g. the HTTP service and a cron
    CLI run against the same target) would both read existing keys
    before either commits, then durably double-insert. The reference
    gets atomicity from PostgreSQL's UNIQUE + ON CONFLICT DO NOTHING;
    a bare parquet directory has no transaction manager, so writers
    must serialize. This is an O_CREAT|O_EXCL lock file next to the
    target — valid on a local/shared POSIX filesystem. On an object
    store, use a transactional table format (Delta/Iceberg) whose
    commit protocol subsumes this lock.
    """

    def __init__(self, target_path: str, timeout_s: float = 60.0,
                 stale_after_s: float = 3600.0):
        self.lock_path = target_path.rstrip("/") + ".lock"
        self.timeout_s = timeout_s
        self.stale_after_s = stale_after_s

    def __enter__(self):
        parent = os.path.dirname(self.lock_path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        deadline = time.monotonic() + self.timeout_s
        while True:
            try:
                fd = os.open(self.lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return self
            except FileExistsError:
                try:  # break locks abandoned by a crashed writer
                    if time.time() - os.path.getmtime(self.lock_path) > self.stale_after_s:
                        # break via atomic rename, not unlink: exactly
                        # one breaker wins the rename, so two breakers
                        # can never each unlink-and-acquire (the TOCTOU
                        # that would re-enable double-inserts). Writers
                        # holding legitimately longer than
                        # stale_after_s must pass a larger value.
                        grave = f"{self.lock_path}.stale.{os.getpid()}.{time.monotonic_ns()}"
                        os.rename(self.lock_path, grave)
                        os.unlink(grave)
                        continue
                except FileNotFoundError:
                    continue  # holder released (or another breaker won)
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"sink target locked by another writer: {self.lock_path}"
                    ) from None
                time.sleep(0.05)

    def __exit__(self, *exc):
        try:
            os.unlink(self.lock_path)
        except FileNotFoundError:
            pass
        return False


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of the Hadoop filesystem Spark
    would read it through (local, HDFS or an object store alike)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


def idempotent_append_parquet(
    spark: SparkSession,
    df: DataFrame,
    target_path: str,
    keys: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """K4/K5 — conflict-skipping append to a parquet target.

    1. intra-batch dedup on the key (deterministic: min-ordered
       survivor happens upstream in the pipeline; here dropDuplicates
       suffices because upstream already made rows per key unique);
    2. left_anti against the existing target's keys — only the key
       columns are read (column pruning). Catalyst copies the batch's
       constraints on key columns onto the target side
       (InferFiltersFromConstraints) and pushes them into the target
       scan: for an incremental batch, ``event_timestamp > wm`` lets
       row-group stats skip every file of earlier runs. When the
       target is date-partitioned the existing-keys side is also
       semi-join-pruned to the partition values present in this batch
       (dynamic partition pruning skips the untouched partitions'
       files). A batch with no such constraint reads every target key;
    3. append, under a cross-process ``TargetLock`` — the read-keys →
       append sequence is only exactly-once for a *serialized* writer
       (see TargetLock; the in-process single-flight lock in
       streaming/incremental covers threads, not processes).

    Returns the number of rows actually inserted (A3, the reference's
    ``records_inserted``), counted by the write job itself: the batch
    is evaluated once. Re-running the same batch inserts 0.
    """
    keys = keys or APPLICATION_EVENTS_DEDUP_KEY
    with TargetLock(target_path):
        if not os.path.exists(target_path):
            # a missing target may be an interrupted compaction (crash
            # between the two swap renames), not a first load — restore
            # the stranded snapshot BEFORE reading, or the anti-join
            # dedup sees an empty history and replays double-insert
            from .maintenance import recover_interrupted_compaction

            recover_interrupted_compaction(target_path)
        batch = df.dropDuplicates(keys)
        # only a missing target is a first load; any read failure of an
        # existing one must abort — treating a corrupt/unreadable target
        # as "first load" would skip the anti-join and double-insert on
        # replay. Asking the filesystem, not a failed Spark read, keeps
        # a first load free of Spark's PATH_NOT_FOUND error logs
        if _path_exists(spark, target_path):
            # the target holds what earlier batches of this schema
            # wrote: read it with the batch's schema instead of
            # inferring it (no inference job)
            existing = spark.read.schema(df.schema).parquet(target_path)
            if partition_by:
                # prune the anti-join's right side to the partition
                # values this batch can collide with — expressed as a
                # semi join (not a driver-side collect) so the value
                # list never materializes on the driver and dynamic
                # partition pruning pushes it to the file listing
                existing = existing.join(
                    batch.select(*partition_by).distinct(),
                    partition_by,
                    "left_semi",
                )
            # name-based joins hoist the key columns to the front of
            # the output — restore the declared order so every file in
            # the target carries the SAME physical column order as the
            # first load (mixed orders are value-correct under parquet's
            # by-name reads but make the directory's inferred schema
            # order depend on file listing order)
            batch = batch.join(existing.select(*keys), keys, "left_anti").select(
                *df.columns
            )
        # one evaluation of the anti-join plan both counts and writes,
        # so records_inserted equals the rows committed even if the
        # source moves. The observe point sits above the last exchange,
        # in the write's result stage, where Spark applies each task's
        # update once (a map-stage count could double on a re-run).
        inserted = Observation()
        writer = batch.observe(inserted, F.count(F.lit(1)).alias("n")).write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target_path)
        # read only after the write returned: a failed write raises
        # above, before the observation is read
        return inserted.get["n"]


# ---------------------------------------------------------------------
# JDBC upsert writer (PostgreSQL) — import-gated: no PG in this
# container; the SQL-building logic is unit-tested, the network path
# requires a live database.
# ---------------------------------------------------------------------

# Reference DDL: extract_bq.py:194-210 == flask_server.py:122-138
APPLICATION_EVENTS_DDL = """
CREATE TABLE IF NOT EXISTS {table} (
    id SERIAL PRIMARY KEY,
    user_id VARCHAR(255),
    event_date DATE,
    event_timestamp BIGINT,
    event_name VARCHAR(255),
    event_id VARCHAR(255),
    event_name_detail TEXT,
    created_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
    UNIQUE(user_id, event_timestamp, event_name)
)
"""

INDEX_DDL = [
    "CREATE INDEX IF NOT EXISTS idx_{t}_user_id ON {table} (user_id)",
    "CREATE INDEX IF NOT EXISTS idx_{t}_event_date ON {table} (event_date)",
    "CREATE INDEX IF NOT EXISTS idx_{t}_event_name ON {table} (event_name)",
    "CREATE INDEX IF NOT EXISTS idx_{t}_event_timestamp ON {table} (event_timestamp)",
]


def build_upsert_sql(
    table: str,
    columns: list[str],
    conflict_keys: list[str],
    dialect: str = "postgres",
) -> str:
    """K4 — the conflict-skipping insert the per-partition writer
    executes (reference: extract_bq.py:216-221).

    ``postgres`` → ``INSERT … ON CONFLICT (keys) DO NOTHING`` (%s
    placeholders); ``sqlite`` → ``INSERT OR IGNORE`` (? placeholders)
    — identical skip-on-duplicate semantics, which lets the partition/
    commit/replay mechanics be proven in-container against SQLite.
    """
    cols = ", ".join(columns)
    if dialect == "postgres":
        placeholders = ", ".join(["%s"] * len(columns))
        keys = ", ".join(conflict_keys)
        return (
            f"INSERT INTO {table} ({cols}) VALUES ({placeholders}) "
            f"ON CONFLICT ({keys}) DO NOTHING"
        )
    if dialect == "sqlite":
        placeholders = ", ".join(["?"] * len(columns))
        return f"INSERT OR IGNORE INTO {table} ({cols}) VALUES ({placeholders})"
    raise ValueError(f"unknown dialect: {dialect!r}")


def write_dbapi_upsert(
    df: DataFrame,
    connect,
    table: str,
    columns: list[str] | None = None,
    conflict_keys: list[str] | None = None,
    batch_size: int | None = None,
    dialect: str = "postgres",
) -> None:
    """K2-K4 — partition-parallel batched conflict-skipping insert
    through any DBAPI driver.

    ``connect`` is a zero-arg picklable callable returning a DBAPI
    connection (e.g. ``partial(psycopg2.connect, dsn)`` or
    ``partial(sqlite3.connect, path, timeout=30)``). Each Spark
    partition opens one connection, executes the insert in
    ``batch_size`` chunks (reference default 1000, extract_bq.py:330),
    and commits ONCE per partition — a mid-partition failure rolls the
    whole partition back, so a Spark task retry (or a full job replay)
    re-inserts it atomically and the conflict-skip makes the replay a
    no-op for rows that did commit (ST3's effective exactly-once).

    Partition count = write parallelism; repartition upstream to match
    the database's connection budget. This is the distributed version
    of the reference's single-threaded ``execute_batch`` loop.
    """
    if batch_size is None:
        from ..config import batch_size as _bs

        batch_size = _bs()  # BATCH_SIZE env parity (extract_bq.py:330)
    columns = columns or CSV_EXPORT_COLUMNS
    conflict_keys = conflict_keys or APPLICATION_EVENTS_DEDUP_KEY
    sql = build_upsert_sql(table, columns, conflict_keys, dialect)
    out = df.select(*columns)

    def write_partition(rows) -> None:
        chunk: list[tuple] = []
        conn = connect()
        try:
            cur = conn.cursor()
            for r in rows:
                chunk.append(tuple(r))
                if len(chunk) >= batch_size:
                    cur.executemany(sql, chunk)
                    chunk = []
            if chunk:
                cur.executemany(sql, chunk)
            # single commit per partition: chunks are client-side
            # batching only, atomicity stays at partition granularity
            conn.commit()
        except Exception:
            try:
                conn.rollback()
            except Exception:
                pass  # a dead connection's rollback must not mask the root cause
            raise
        finally:
            conn.close()

    out.foreachPartition(write_partition)


def write_jdbc_merge_append(
    df: DataFrame,
    url: str,
    table: str,
    conflict_keys: list[str],
    driver: str | None = None,
    writer_options: dict[str, str] | None = None,
    timings: dict | None = None,
) -> int:
    """Conflict-skipping JDBC append through Spark's REAL JDBC writer:
    intra-batch key-dedup, executor-parallel write of the batch into a
    per-call staging table, then ONE set-based ANSI ``MERGE … WHEN NOT
    MATCHED THEN INSERT`` on the database — the reference's ``ON
    CONFLICT DO NOTHING`` retention contract (extract_bq.py:187-267)
    expressed in the dialect-portable way (Apache Derby — embedded,
    ships with Spark, exercised for real in tests/test_jdbc_derby.py —
    and PostgreSQL 15+ both speak ANSI MERGE; for older PG the DBAPI
    upsert twin with ON CONFLICT remains).

    Idempotent under replay: rerunning the same batch merges zero
    rows, so crash-and-retry around the watermark commit keeps
    exactly-once EFFECT (the K4/ST3 contract) — with the SAME NULL-key
    caveat as the reference's PostgreSQL unique constraint: NULLs
    compare distinct in both a MERGE ON and a unique index, so a row
    with a NULL conflict-key value re-inserts on replay there exactly
    as it does here (flagship rows cannot carry one: the user filter
    and the watermark predicate both reject NULLs). Identifiers are
    quoted to match the Spark JDBC writer's case-exact column layout.

    Concurrency: the staging table is unique PER CALL (pid + a
    monotonic counter), so concurrent writers never clobber each
    other's staged batch. The MERGE itself, like any MERGE without a
    unique constraint, does not serialize concurrent inserts of the
    same new key — writers to one target must serialize (both repo
    legs already do: the control plane's single-flight lock, the
    streaming query's one-at-a-time micro-batches), or the target
    needs the reference's unique index so a race fails loudly instead
    of duplicating.

    Scale: the batch lands on the DB via Spark's partition-parallel
    JDBC writer (one connection per partition, batched inserts); the
    driver runs only constant-count DDL/DML statements — no per-row
    work outside the database. The staging write is the batch's one
    Spark job: its staged row count is an ``Observation`` on that job,
    so the batch is read once.

    ``writer_options`` pass through to the staging write — in
    particular ``createTableColumnTypes`` to pin string key columns to
    VARCHAR (Derby's default CLOB mapping is not comparable in a MERGE
    ON clause; PG is unaffected) — and ``user``/``password`` entries
    also authenticate the driver-side MERGE connection (the staging
    write and the merge must reach the same database as the same
    principal).

    A missing target table is bootstrapped from the staging table's
    layout (``CREATE TABLE … AS SELECT … WITH NO DATA`` — Derby and PG
    both speak it; the already-exists race/false-negative is handled
    by swallowing exactly that SQLState, X0Y32/42P07, never by a
    pattern-wildcarded metadata probe). A batch that stages no row
    (an idle trigger or an empty micro-batch) only drops its staging
    table: no target bootstrap, no index DDL, no ``MERGE`` — so a
    zero-row first load creates no target table, and ``timings`` gets
    ``staging_write_s`` only. Returns the number of rows the MERGE
    actually inserted (the reference's ``records_inserted``; a full
    replay or an empty batch returns 0)."""
    # intra-batch dedup — the parquet twin's step 1: MERGE evaluates
    # source rows against the TARGET snapshot only, so two staged rows
    # sharing a conflict key would BOTH insert without this
    df = df.dropDuplicates(conflict_keys)
    staging = _next_staging_name(table)
    writer_options = dict(writer_options or {})
    if "createTableColumnTypes" not in writer_options and url.startswith(
        "jdbc:derby"
    ):
        # Default the STRING conflict-key columns to VARCHAR(255) — the
        # reference's own key DDL width (extract_bq.py:195-205) — so
        # the zero-config path works on Derby, whose default StringType
        # mapping (CLOB) is not comparable in a MERGE ON clause. Only
        # key columns are pinned, and only for Derby: other dialects
        # (PG TEXT) compare unbounded strings fine, and pinning there
        # would break >255-char keys that previously worked (r9 ADVICE).
        # Non-key strings keep the dialect's unbounded default
        # (CLOB/TEXT), so nothing truncates. Callers with wider keys
        # override via writer_options (docstring).
        string_keys = [
            f.name
            for f in df.schema.fields
            if f.name in conflict_keys and f.dataType.typeName() == "string"
        ]
        if string_keys:
            writer_options["createTableColumnTypes"] = ", ".join(
                f"{k} VARCHAR(255)" for k in string_keys
            )
    # the staged count is observed on the deduped frame, which is the
    # staging write's result stage: Spark applies each task's update
    # once, so the count is exact
    staged = Observation()
    w = (
        df.observe(staged, F.count(F.lit(1)).alias("n"))
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", staging)
        .mode("overwrite")
    )
    if driver:
        w = w.option("driver", driver)
    for k, v in writer_options.items():
        w = w.option(k, v)
    t0 = time.time()
    w.save()
    if timings is not None:
        # perf-characterization hook (SCALE.md JDBC section): the
        # staging write is the executor-parallel leg, the MERGE the
        # single set-based DB statement — the split tells which side
        # a slow load is on
        timings["staging_write_s"] = time.time() - t0
    # read only after the write returned, like the parquet twin
    n_staged = staged.get["n"]

    def q(c: str) -> str:
        return '"' + c.replace('"', '""') + '"'

    on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in conflict_keys)
    cols = df.columns
    merge_sql = (
        f"MERGE INTO {table} t USING {staging} s ON {on} "
        f"WHEN NOT MATCHED THEN INSERT ({', '.join(q(c) for c in cols)}) "
        f"VALUES ({', '.join('s.' + q(c) for c in cols)})"
    )
    jvm = df.sparkSession._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    props = jvm.java.util.Properties()
    for cred in ("user", "password"):
        if writer_options and cred in writer_options:
            props.setProperty(cred, writer_options[cred])
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        st = conn.createStatement()
        try:
            inserted = 0
            if n_staged:
                # bootstrap the target on first load: clone the staging
                # layout without rows
                _create_unless_exists(
                    st, f"CREATE TABLE {table} AS SELECT * FROM {staging} WITH NO DATA"
                )
                # Index the conflict keys on the target — the
                # reference's UNIQUE constraint gives it this index
                # implicitly (extract_bq.py:204), and without one the
                # MERGE's anti-probe is a nested-loop heap scan per
                # staged row: O(|staged|·|target|). Measured in
                # round 9 (jstack-confirmed
                # NestedLoopLeftOuterJoinResultSet): the 80k×80k
                # replay MERGE ran 10+ minutes unindexed vs seconds
                # indexed. Plain (not UNIQUE) index: NULLs compare
                # distinct in a MERGE ON, so duplicate NULL-key rows
                # are legal target states the index must not reject.
                # Attempted on every non-empty batch, not only after a
                # bootstrap, so pre-existing targets created by older
                # code or externally get indexed too (r9 ADVICE).
                idx_cols = ", ".join(q(k) for k in conflict_keys)
                _create_unless_exists(
                    st, f"CREATE INDEX {table}_ck_idx ON {table} ({idx_cols})"
                )
                t1 = time.time()
                inserted = st.executeUpdate(merge_sql)
                if timings is not None:
                    timings["merge_s"] = time.time() - t1
            # staging is per-call scratch: drop it after the merge
            # commits (leaving it behind doubles the batch's storage)
            st.executeUpdate(f"DROP TABLE {staging}")
            return inserted
        finally:
            st.close()
    finally:
        conn.close()


def _create_unless_exists(st, ddl: str) -> None:
    """Run a CREATE statement, tolerating exactly "already exists"
    (Derby X0Y32, PG 42P07): race-free, and immune to the JDBC
    metadata-pattern quirks of a probe-first check."""
    try:
        st.executeUpdate(ddl)
    except Exception as e:
        state = getattr(
            getattr(e, "java_exception", None), "getSQLState", lambda: None
        )()
        if state not in ("X0Y32", "42P07"):
            raise


_STAGING_SEQ = iter(range(1, 1 << 62))


def _next_staging_name(table: str) -> str:
    """Per-call staging name: pid + process-monotonic counter, so
    concurrent writers (other processes OR other threads/legs of this
    one) never overwrite each other's staged batch."""
    return f"{table}_stage_{os.getpid()}_{next(_STAGING_SEQ)}"


def write_training_shards(
    df: DataFrame,
    path: str,
    shard_col: str,
    n_shards: int,
    order_cols: list[str] | None = None,
    max_records_per_file: int = 100_000,
    compression: str = "zstd",
) -> dict:
    """Export a prepared corpus as training shards — the dataloader
    layout (WebDataset-style): a fixed shard count, rows hash-routed
    by ``shard_col`` so every epoch's shard membership is
    deterministic, each shard internally ordered (sequence packing's
    bin order → contiguous reads), and files capped at
    ``max_records_per_file`` rows so a dataloader worker never maps an
    unbounded file.

    Spark mechanics, all declarative: one hash repartition to
    ``n_shards`` (the only exchange), ``sortWithinPartitions`` (no
    global sort — each shard orders independently), and the
    ``maxRecordsPerFile`` writer option splits oversized shards
    without a second shuffle. Zstd parquet is the right trade for
    training reads (seekable, column-prunable, ~3× smaller than
    snappy on text).

    Returns {rows, files, shards} for the run (counted from the
    committed output, not the plan).
    """
    (
        df.repartition(n_shards, F.col(shard_col))
        .sortWithinPartitions(*(order_cols or [shard_col]))
        .write.option("maxRecordsPerFile", max_records_per_file)
        .option("compression", compression)
        .mode("overwrite")
        .parquet(path)
    )
    spark = df.sparkSession
    out = spark.read.parquet(path)
    files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    return {"rows": out.count(), "files": len(files), "shards": n_shards}


def write_daily_partitions(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    compression: str = "zstd",
) -> dict:
    """Date-partitioned lake write with DYNAMIC partition overwrite —
    the incremental-backfill contract: rewriting one day's data
    replaces exactly that day's directory and leaves every other
    partition's files untouched (static overwrite mode would truncate
    the whole table — the classic lake data-loss footgun). The `day`
    partition column is derived from the event time, so readers get
    partition pruning on date predicates for free.

    Uses a per-write `partitionOverwriteMode=dynamic` option (scoped
    to this writer, not a session-level config flip). Returns the
    distinct days written.
    """
    out = df.withColumn("day", F.col(ts_col).cast("date"))
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", compression)
        .partitionBy("day")
        .parquet(path)
    )
    # calendar-bounded metadata collect (distinct DAYS, not data rows —
    # |result| = days in the batch, a backfill window at most), same
    # class as the .first() scalar fetches; data rows never reach the
    # driver
    days = [r.day for r in out.select("day").distinct().collect()]
    return {"days_written": sorted(str(d) for d in days)}
