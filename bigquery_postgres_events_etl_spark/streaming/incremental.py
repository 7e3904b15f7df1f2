"""Batch-incremental ETL runner — the reference's scheduled
watermarked job (flask_server.py:82-229, EP2) rebuilt on Spark.

Semantics preserved 1:1 (SURVEY §2.9):
- ST1/ST2: file watermark + now−lookback fallback (sources.watermark);
- F4: only rows with event_timestamp > watermark;
- K4: idempotent conflict-skipping append (sources.sinks);
- ST3: at-least-once read + idempotent sink = effective exactly-once —
  a crash between sink commit and watermark advance replays rows that
  the anti-join then drops;
- ST4: watermark advances only after the sink commit, only forward;
- ST5: single-flight guard — a real lock, fixing the reference's racy
  check-then-set (flask_server.py:86-90);
- ST7: parity — rows at-or-below the watermark are never picked up
  (the streaming variant adds an explicit lateness allowance instead);
- ST8: the same progress-record shape the reference exposes at
  /status (flask_server.py:210-221).

A run reads only the source files whose footers allow a row newer
than the watermark (io.load_events_after), the reference's
``_TABLE_SUFFIX BETWEEN`` shard pruning (extract_bq.py:98-110); a run
with no such file returns at once and runs no Spark job. Any other
run reads those files once, on either sink, like the reference's
single fetch-then-insert (flask_server.py:142-196): the batch's row
count and max timestamp, and the sink's inserted count, are
``Observation``s on the sink's one write job — no stats job, no cache.
A batch the filters leave empty still runs that write; the JDBC sink
then drops its empty staging table and runs no ``MERGE``.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from ..io import load_events_after
from ..operators.etl import flagship_pipeline
from ..schemas import APPLICATION_EVENTS_DEDUP_KEY
from ..sources.sinks import idempotent_append_parquet, write_jdbc_merge_append
from ..sources.watermark import read_watermark_us, write_watermark_us

_run_lock = threading.Lock()  # ST5: real mutual exclusion


def run_incremental_etl(
    spark: SparkSession,
    source_sf_dir: str,
    state_path: str,
    target_path: str,
    tracked: list[str] | None = None,
    lookback_hours: int | None = None,
    now_us: int | None = None,
    jdbc_target: dict | None = None,
) -> dict:
    """One incremental run; returns the ST8 progress record.

    The watermark bounds files and rows. Before any Spark work, one
    pass over the source's parquet footers keeps the files whose max
    ``ts`` is above the watermark (io.load_events_after); when no file
    is kept, the run returns the success record with nothing fetched,
    before the sink call, so neither sink runs a job. Otherwise the
    run makes exactly one sink call and runs no Spark action of its
    own: ``records_fetched`` and the new watermark are observed on the
    sink's write job.
    flagship_pipeline then filters the kept files' rows on
    ``unix_micros(ts) > wm``. The parquet sink's anti-join reads the
    target's keys under the batch's ``event_timestamp > wm``, which
    Catalyst infers from this filter and pushes into the target scan:
    row-group stats skip the target files of earlier runs.

    ``jdbc_target``: when given ({"url": …, "table": …, optional
    "driver", "writer_options", "conflict_keys"}), the sink is the
    real Spark-JDBC staging+MERGE writer instead of the parquet
    target — the reference's exact deployment (watermarked extract →
    conflict-skipping insert into a live SQL database). Idempotence
    comes from the database MERGE rather than the parquet anti-join;
    everything else (watermark predicate, one observed write,
    commit-then-advance, single-flight) is shared. A batch with no row
    (a zero-row first load, or an idle trigger whose newest file's
    max-``ts`` row is untracked or has a NULL user, so the footers keep
    that file) creates and drops an empty staging table and runs no
    ``MERGE``: a zero-row first load creates no target table.
    Exercised for real against embedded Derby in
    tests/test_jdbc_derby.py and tests/test_source_pruning.py.
    """
    if not _run_lock.acquire(blocking=False):
        return {"status": "skipped", "reason": "already_running"}  # HTTP 409 twin
    t0 = time.time()
    try:
        wm = read_watermark_us(state_path, lookback_hours, now_us=now_us)
        events = load_events_after(spark, source_sf_dir, wm)
        batch = None if events is None else flagship_pipeline(events, tracked=tracked, watermark_us=wm)
        if batch is None:
            # every source footer proves ts <= wm: nothing to fetch
            fetched, inserted, max_ts = 0, 0, None
        else:
            # one pass on either sink: the batch stats ride on the
            # sink's one write job, read after it returns. This observe
            # point sits upstream of the sink's dedup (and the parquet
            # sink's anti-join); if the plan shuffles in between, it
            # lands in a map stage that a failure can re-run. max_ts is
            # a max, so a re-run cannot corrupt it; the count is only
            # reported (records_inserted is counted by the sink itself)
            observed = Observation()
            batch = batch.observe(
                observed,
                F.count(F.lit(1)).alias("n"),
                F.max("event_timestamp").alias("max_ts"),
            )
            if jdbc_target is None:
                inserted = idempotent_append_parquet(spark, batch, target_path)
            else:
                inserted = write_jdbc_merge_append(
                    batch,
                    jdbc_target["url"],
                    jdbc_target["table"],
                    conflict_keys=jdbc_target.get(
                        "conflict_keys", list(APPLICATION_EVENTS_DEDUP_KEY)
                    ),
                    driver=jdbc_target.get("driver"),
                    writer_options=jdbc_target.get("writer_options"),
                )
            fetched, max_ts = observed.get["n"], observed.get["max_ts"]
        advanced = False
        if max_ts is not None and max_ts > wm:
            advanced = write_watermark_us(state_path, max_ts)  # ST4: after commit
        return {
            "status": "success",
            "last_processed_timestamp": max_ts if max_ts is not None else wm,
            "watermark_before": wm,
            "watermark_advanced": advanced,
            "records_fetched": fetched,
            "records_inserted": inserted,
            "duration_seconds": round(time.time() - t0, 3),
        }
    except Exception as e:  # ST8: errors land in the status record
        return {
            "status": "error",
            "error": str(e),
            "duration_seconds": round(time.time() - t0, 3),
        }
    finally:
        _run_lock.release()
