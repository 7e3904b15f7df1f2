"""ETL workloads: the reference's scheduled job through ``EtlService.trigger``.

One backfill onto an empty target, then cycles of three triggers until
the run's time is up: a new day of events arrives and is committed; an
idle trigger finds nothing new; a crash replay rolls the watermark back
one batch so every row of the last day conflicts. Every trigger's
output is checked; the target is checked for duplicate keys and the
watermark against the largest committed timestamp at the end.

A traced ``etl_parquet`` run also drives a short cycle into embedded
Derby after its window, so the JDBC sink's staging write and MERGE are
measured on the same workload.
"""

from __future__ import annotations

import os
import time

from common import Context, Op, dir_stats, log, median
from gen import EPOCH_2024_US, expected_commits, write_events_day

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
TABLE = "app_events"
PASS_KINDS = ("batch", "idle", "replay")
WARM_CYCLES = 2

# Rows per generated day. On 4 cores, at 10k, 50k and 200k rows a day,
# the sink takes 60-64% of a trigger's wall and the incremental layer's
# own work 25-29%; the row-dependent part (new-day minus idle trigger)
# is 0.07 s, 0.35 s and 1.6 s. 50k is the largest size at which the
# window holds three or four cycles within a run's time budget.
ROWS_PER_DAY = 50_000
ROWS_PER_USER = 5  # a day has one distinct user per five rows
BACKFILL_DAYS = 1
# Derby's staging write and MERGE take 3.5 s per cycle at 50k rows a
# day, so the JDBC sink gets smaller days
JDBC_ROWS_PER_DAY = 10_000
# the Derby cycle of a traced etl_parquet run: checked, untimed warm-up
# cycles, then traced cycles that give the sinks.staging_write_s and
# sinks.merge_s metrics
JDBC_WARM_CYCLES = 1
JDBC_TRACED_CYCLES = 2


class ParquetTarget:
    def __init__(self, spark, path: str):
        self.spark, self.path, self.storage = spark, path, path

    def jdbc(self) -> None:
        return None

    def count(self) -> int:
        if not os.path.exists(self.path):
            return 0
        return self.spark.read.parquet(self.path).count()

    def duplicate_keys(self) -> int:
        df = self.spark.read.parquet(self.path)
        return df.groupBy("user_id", "event_timestamp", "event_name").count().where("count > 1").count()

    def max_ts(self) -> int | None:
        return self.spark.read.parquet(self.path).agg({"event_timestamp": "max"}).first()[0]

    def close(self) -> None:
        pass


class DerbyTarget:
    """Embedded Derby database, queried over its own JDBC connection."""

    def __init__(self, spark, path: str):
        self.spark, self.storage = spark, path
        self.url = f"jdbc:derby:{path};create=true"
        self._jvm = spark.sparkContext._jvm

    def jdbc(self) -> dict:
        return {"url": self.url, "table": TABLE, "driver": DERBY_DRIVER}

    def _scalar(self, sql: str):
        self._jvm.java.lang.Class.forName(DERBY_DRIVER)
        conn = self._jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            st = conn.createStatement()
            try:
                rs = st.executeQuery(sql)
                rs.next()
                v = rs.getLong(1)
                return None if rs.wasNull() else v
            finally:
                st.close()
        finally:
            conn.close()

    def _exists(self) -> bool:
        return os.path.exists(os.path.join(self.storage, "seg0")) and bool(
            self._scalar(f"SELECT COUNT(*) FROM SYS.SYSTABLES WHERE TABLENAME = '{TABLE.upper()}'")
        )

    def count(self) -> int:
        return self._scalar(f"SELECT COUNT(*) FROM {TABLE}") if self._exists() else 0

    def duplicate_keys(self) -> int:
        return self._scalar(
            f'SELECT COUNT(*) FROM (SELECT "user_id" FROM {TABLE} '
            f'GROUP BY "user_id", "event_timestamp", "event_name" HAVING COUNT(*) > 1) d'
        )

    def max_ts(self) -> int | None:
        return self._scalar(f'SELECT MAX("event_timestamp") FROM {TABLE}')

    def close(self) -> None:
        try:
            self._jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:{self.storage};shutdown=true"
            )
        except Exception:  # Derby reports a clean shutdown as an SQLException
            pass


def day_rows(sink: str) -> int:
    return ROWS_PER_DAY if sink == "parquet" else JDBC_ROWS_PER_DAY


def write_day(seed: int, day: int, rows: int, src: str):
    return write_events_day(seed, day, rows, rows // ROWS_PER_USER, src)


def write_source(seed: int, src: str, days: int, rows: int) -> dict[int, object]:
    """Generate the backfill days into ``src``; returns them by day."""
    return {d: write_day(seed, d, rows, src) for d in range(days)}


class Loop:
    """One source, watermark file and target driven through
    ``EtlService.trigger``; every trigger is checked and recorded as an
    operation whose kind is ``label`` + the trigger kind."""

    def __init__(self, ctx: Context, spark, sink: str, base: str, days: dict, tracer, label: str = ""):
        from bigquery_postgres_events_etl_spark.schemas import FIXTURE_TRACKED_EVENTS
        from bigquery_postgres_events_etl_spark.service import EtlService

        self.ctx, self.tracer, self.label = ctx, tracer, label
        self.rows = day_rows(sink)
        self.src = os.path.join(base, "source")
        self.state = os.path.join(base, "state", "watermark")
        os.makedirs(os.path.dirname(self.state), exist_ok=True)
        self.watermark(EPOCH_2024_US - 1)  # the backfill takes every generated day
        self.target = (ParquetTarget if sink == "parquet" else DerbyTarget)(
            spark, os.path.join(base, "target")
        )
        self.svc = EtlService(spark, self.src, self.state, os.path.join(base, "target"),
                              jdbc_target=self.target.jdbc())
        self.tracked = list(FIXTURE_TRACKED_EVENTS)
        self.days = days
        self.next_day = max(days) + 1
        self.inserted = 0  # rows committed so far, from the generator
        self.max_ts = None  # largest committed event_timestamp, from the generator
        self.target_rows = 0  # target rows after the last trigger
        self.traced_stats: list[dict] = []

    def watermark(self, value: int | None = None) -> int:
        """Read the watermark file, or overwrite it with ``value``."""
        if value is not None:
            with open(self.state, "w") as f:
                f.write(str(value))
        with open(self.state) as f:
            return int(f.read())

    def trigger(self, kind: str, want_fetched: int | None, want_inserted: int, traced: bool) -> Op:
        tracer, target = self.tracer, self.target
        before = self.target_rows
        files0 = dir_stats(target.storage)
        if tracer is not None:
            tracer.enabled = traced
            tracer.op += 1
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.span("op.trigger"):
                    code, body = self.svc.trigger()
            else:
                code, body = self.svc.trigger()
            err = None
        except Exception as e:  # an exception is a failed operation
            code, body, err = None, {}, repr(e)
        wall = time.perf_counter() - t0
        if tracer is not None:
            tracer.enabled = False
            if traced and not err:
                tracer.end_op()
        res = (body or {}).get("result") or {}
        self.target_rows = target.count()
        delta = self.target_rows - before
        problems = []
        if err:
            problems.append(err)
        elif code != 200 or res.get("status") != "success":
            problems.append(f"status {code} {res}")
        else:
            if res["records_inserted"] != delta:
                problems.append(f"records_inserted {res['records_inserted']} != target delta {delta}")
            if res["records_inserted"] != want_inserted:
                problems.append(f"records_inserted {res['records_inserted']} != expected {want_inserted}")
            if want_fetched is not None and res["records_fetched"] != want_fetched:
                problems.append(f"records_fetched {res['records_fetched']} != expected {want_fetched}")
        if traced and tracer is not None and not err:
            files1 = dir_stats(target.storage)
            self.traced_stats.append({
                "op": tracer.op,
                "rows_offered": res.get("records_fetched", 0),
                "rows_inserted": res.get("records_inserted", 0),
                "files_written": max(0, files1[0] - files0[0]),
                "bytes_written": max(0, files1[1] - files0[1]),
                "target_files": files1[0],
            })
        op = Op(self.label + kind, wall, traced, not problems, "; ".join(problems),
                res.get("records_inserted", 0), tracer.op if tracer is not None else -1)
        self.ctx.record(op)
        return op

    def backfill(self) -> None:
        rows = 0
        for d in sorted(self.days):
            n, self.max_ts = expected_commits(self.days[d], self.tracked)
            rows += n
        self.trigger("backfill", None, rows, traced=False)
        self.inserted += rows

    def cycle(self, traced: bool, prefix: str = "") -> None:
        """A new day, an idle trigger and a crash replay of that day."""
        wm_before = self.watermark()
        table = write_day(self.ctx.seed, self.next_day, self.rows, self.src)
        n_new, mx = expected_commits(table, self.tracked)
        self.next_day += 1
        self.trigger(prefix + "batch", None, n_new, traced)
        self.inserted += n_new
        self.max_ts = mx
        self.trigger(prefix + "idle", 0, 0, traced)
        self.watermark(wm_before)  # crash replay: the advance is lost
        self.trigger(prefix + "replay", n_new, 0, traced)

    def finish(self) -> tuple[int, int, int]:
        """End-of-run checks, recorded as one operation; returns the
        committed rows and the target's files and bytes."""
        target = self.target
        problems = []
        committed = target.count()
        if committed != self.inserted:
            problems.append(f"target rows {committed} != committed {self.inserted}")
        dups = target.duplicate_keys()
        if dups:
            problems.append(f"{dups} duplicate dedup keys in target")
        wm = self.watermark()
        if not (wm == target.max_ts() == self.max_ts):
            problems.append(f"watermark {wm} != max committed {target.max_ts()} / expected {self.max_ts}")
        self.ctx.record(Op(self.label + "final_check", 0.0, False, not problems, "; ".join(problems)))
        files, size = dir_stats(target.storage)
        target.close()
        return committed, files, size


def jdbc_split(ctx: Context, tracer) -> dict[str, float]:
    """Run a short Derby cycle in this session and return the JDBC
    sink's staging-write and MERGE seconds per traced cycle."""
    from spans import layer_metrics

    base = ctx.fresh_dir("jdbc")
    days = write_source(ctx.seed, os.path.join(base, "source"), 1, JDBC_ROWS_PER_DAY)
    loop = Loop(ctx, ctx.spark, "jdbc", base, days, tracer, label="jdbc-")
    loop.backfill()
    for _ in range(JDBC_WARM_CYCLES):
        loop.cycle(False, "warm-")
    first = len(ctx.ops)
    for _ in range(JDBC_TRACED_CYCLES):
        loop.cycle(True)
    loop.finish()
    ops = {o.op_id for o in ctx.ops[first:] if o.traced}
    lm = layer_metrics([s for s in tracer.spans if s["op"] in ops],
                       [j for j in tracer.jobs if j["op"] in ops], "service.trigger")
    return {k: lm.get(f"sinks.{k}", 0.0) / JDBC_TRACED_CYCLES for k in ("staging_write_s", "merge_s")}


def run(ctx: Context, sink: str, tracer_factory) -> dict:
    from bigquery_postgres_events_etl_spark.io import load_table

    days: dict[int, object] = {}

    def prepare(spark) -> None:
        src = ctx.fresh_dir("source")
        days.clear()
        days.update(write_source(ctx.seed, src, BACKFILL_DAYS, day_rows(sink)))
        load_table(spark, src, "events").count()

    ctx.set_up(prepare)
    tracer = tracer_factory(ctx.spark)
    loop = Loop(ctx, ctx.spark, sink, ctx.work, days, tracer)

    def mode(cycle: int) -> bool:
        # traced runs alternate traced and untraced cycles in pairs whose
        # order flips each pair, so the target's growth does not bias
        # the overhead estimate
        if tracer is None:
            return False
        pair, second = divmod(cycle, 2)
        return (pair % 2 == 0) != bool(second)

    loop.backfill()
    # the first cycles after a JVM start run markedly slower; they are
    # checked like every other cycle but not timed
    for _ in range(WARM_CYCLES):
        loop.cycle(False, "warm-")
    # the measured window: new-day, idle and replay cycles
    t_begin = time.perf_counter()
    cycle = 0
    while cycle < 1 or time.perf_counter() - t_begin < ctx.seconds:
        loop.cycle(mode(cycle))
        cycle += 1
    committed, storage_files, storage_bytes = loop.finish()
    split = jdbc_split(ctx, tracer) if tracer is not None and sink == "parquet" else None

    def cycle_walls(traced: bool) -> list[float]:
        ops = [o for o in ctx.ops if o.traced == traced and o.kind in PASS_KINDS]
        return [sum(o.wall_s for o in ops[i:i + 3]) for i in range(0, len(ops) - 2, 3)]

    e2e_ops = [o for o in ctx.ops if not o.traced]
    walls = {k: [o.wall_s for o in e2e_ops if o.kind == k] for k in ("backfill", "batch", "idle", "replay")}
    cycles = cycle_walls(False)
    traced_cycles = cycle_walls(True)
    pairs = min(len(cycles), len(traced_cycles))
    batch_rows = sum(o.rows for o in e2e_ops if o.kind == "batch")
    summary = {
        "etl_backfill_s": (median(walls["backfill"]), "s"),
        "etl_batch_s": (median(walls["batch"]), "s"),
        "etl_idle_s": (median(walls["idle"]), "s"),
        "etl_replay_s": (median(walls["replay"]), "s"),
        "etl_rows_per_s": (batch_rows / sum(walls["batch"]) if walls["batch"] else 0.0, "1/s"),
        "storage_bytes_per_row": (storage_bytes / max(1, committed), "B"),
        "cycles": (len(walls["batch"]), "count"),
    }
    log(f"etl_{sink}: {cycle} cycles, {committed} rows committed, {storage_files} target files")
    return {
        "pass_s": median(cycles),
        "summary": summary,
        "tracer": tracer,
        "traced_ops": {o.op_id for o in ctx.ops if o.traced and o.kind in PASS_KINDS},
        "passes": len(traced_cycles),
        "traced_stats": loop.traced_stats,
        "window": "service.trigger",
        "storage_files": storage_files,
        "jdbc_split": split,
        # mean traced minus mean untraced cycle, over the paired cycles
        "overhead_s": (sum(traced_cycles[:pairs]) - sum(cycles[:pairs])) / pairs if pairs else 0.0,
        "untraced_pass_s": sum(cycles[:pairs]) / pairs if pairs else 0.0,
    }
