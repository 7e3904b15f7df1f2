"""Status/trigger HTTP service — mirror of the reference's Flask
control plane (flask_server.py:233-289) with zero extra dependencies
(stdlib wsgiref; the reference's Flask/APScheduler aren't guaranteed
here).

Endpoints (same paths/shapes):
- GET /         service descriptor
- GET /health   {"status": "healthy", "timestamp": ...}
- GET /status   last run record + current watermark (raw µs + ISO)
- POST /trigger synchronous run; 409 if one is in flight (ST5 — the
  runner holds a real lock, fixing the reference's racy flag)

Plus the reference's self-scheduling behavior (ST6): starting the
service also starts a daemon-thread daily trigger at
ETL_SCHEDULE_HOUR:ETL_SCHEDULE_MINUTE (flask_server.py:279-289),
sharing the single-flight lock with HTTP triggers. The server is
threading (one thread per request) so /health and /status stay
responsive while a synchronous /trigger run is in flight — liveness
probes must not flap during long runs (parity with Flask's threaded
default).
"""

from __future__ import annotations

import datetime
import json
import threading
from socketserver import ThreadingMixIn
from wsgiref.simple_server import WSGIServer, make_server

from .config import schedule_hour, schedule_minute, service_port, timestamp_file
from .sources.watermark import read_watermark_us


def seconds_until_fire(now: datetime.datetime, hour: int, minute: int) -> float:
    """Seconds from ``now`` to the next daily HH:MM fire time (today if
    still ahead, else tomorrow) — the pure core of the scheduler, unit
    tested with injected clocks."""
    fire = now.replace(hour=hour, minute=minute, second=0, microsecond=0)
    if fire <= now:
        fire += datetime.timedelta(days=1)
    return (fire - now).total_seconds()


class DailyScheduler:
    """In-process daily trigger (reference: flask_server.py:279-289,
    APScheduler's CronTrigger) as a stdlib daemon thread.

    ``fn`` runs once per day at hour:minute; exceptions are swallowed
    after recording (a failed nightly run must not kill the thread —
    the next night retries). ``now_fn`` is injectable for tests.
    """

    def __init__(self, fn, hour: int | None = None, minute: int | None = None,
                 now_fn=datetime.datetime.now):
        self.fn = fn
        self.hour = schedule_hour() if hour is None else hour
        self.minute = schedule_minute() if minute is None else minute
        self.now_fn = now_fn
        self.last_error: str | None = None
        self.fires = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            try:
                wait_s = seconds_until_fire(self.now_fn(), self.hour, self.minute)
            except Exception as e:  # bad hour/minute must not kill the thread
                self.last_error = repr(e)
                wait_s = 3600.0  # keep heartbeating; operator sees last_error
            if self._stop.wait(timeout=wait_s):
                return
            try:
                self.fn()
            except Exception as e:  # noqa: BLE001 — keep the thread alive
                self.last_error = repr(e)
            self.fires += 1

    def start(self) -> None:
        self._thread = threading.Thread(
            target=self._loop, name="daily-etl-scheduler", daemon=True
        )
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


class ThreadingWSGIServer(ThreadingMixIn, WSGIServer):
    """One thread per request; daemon threads so shutdown never hangs
    on a stuck handler."""

    daemon_threads = True


class EtlService:
    def __init__(
        self,
        spark,
        source_dir: str,
        state_path: str,
        target_path: str,
        jdbc_target: dict | None = None,
    ):
        self.spark = spark
        self.source_dir = source_dir
        self.state_path = state_path
        self.target_path = target_path
        # optional live-DB deployment shape (the reference's server
        # writes PostgreSQL): {"url", "table", "driver"?, ...} routes
        # the sink through the real Spark-JDBC staging+MERGE writer
        self.jdbc_target = jdbc_target
        self.last_result: dict | None = None
        self._lock = threading.Lock()

    # -- handlers ------------------------------------------------------
    def descriptor(self) -> dict:
        return {
            "service": "bq-pg-events-etl-spark",
            "endpoints": ["/", "/health", "/status", "/trigger"],
        }

    def health(self) -> dict:
        return {
            "status": "healthy",
            "timestamp": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        }

    def status(self) -> dict:
        wm = read_watermark_us(self.state_path)
        return {
            "last_result": self.last_result,
            "last_timestamp": wm,
            "last_timestamp_iso": datetime.datetime.fromtimestamp(
                wm / 1_000_000, datetime.timezone.utc
            ).isoformat(),
        }

    def trigger(self) -> tuple[int, dict]:
        from .cache import scoped_cache
        from .streaming.incremental import run_incremental_etl

        if not self._lock.acquire(blocking=False):
            return 409, {"status": "already_running"}
        try:
            # scoped cache (r6 verdict item #4): operators persist()
            # shared intermediates and never unpersist (the lazy-plan
            # contract); in this long-lived session that would
            # accumulate cached frames across daily runs — each run's
            # caches die with the run instead. Safe because the run is
            # fully materialized (results written, counts observed in
            # the write job) before the scope exits, and the service
            # holds no cross-run caches of its own.
            with scoped_cache(self.spark):
                self.last_result = run_incremental_etl(
                    self.spark,
                    self.source_dir,
                    self.state_path,
                    self.target_path,
                    jdbc_target=self.jdbc_target,
                )
            return 200, {"status": "triggered", "result": self.last_result}
        finally:
            self._lock.release()

    def scheduled_run(self) -> None:
        """The daily scheduler's entry: same path as POST /trigger,
        same single-flight lock — a 409 (manual run in flight) is a
        skip, matching the reference's is_running guard."""
        self.trigger()

    # -- WSGI ----------------------------------------------------------
    def wsgi_app(self, environ, start_response):
        path = environ.get("PATH_INFO", "/")
        method = environ.get("REQUEST_METHOD", "GET")
        if path == "/" and method == "GET":
            code, body = 200, self.descriptor()
        elif path == "/health" and method == "GET":
            code, body = 200, self.health()
        elif path == "/status" and method == "GET":
            code, body = 200, self.status()
        elif path == "/trigger" and method == "POST":
            code, body = self.trigger()
        else:
            code, body = 404, {"error": "not found"}
        payload = json.dumps(body).encode()
        start_response(
            f"{code} {'OK' if code == 200 else 'ERROR'}",
            [("Content-Type", "application/json"), ("Content-Length", str(len(payload)))],
        )
        return [payload]

    def serve(self, port: int | None = None):  # pragma: no cover — manual entry
        """Start the daily scheduler thread + the threaded HTTP server
        (reference: flask_server.py:278-296 — "start server ⇒ jobs run
        daily"). Port defaults to FLASK_PORT."""
        scheduler = DailyScheduler(self.scheduled_run)
        scheduler.start()
        try:
            with make_server(
                "", service_port() if port is None else port, self.wsgi_app,
                server_class=ThreadingWSGIServer,
            ) as httpd:
                httpd.serve_forever()
        finally:
            scheduler.stop()


def main(argv: list[str] | None = None) -> int:
    """Console entry point (``bq-pg-etl-service``): the reference's
    ``python flask_server.py`` twin (flask_server.py:278-296) — build a
    SparkSession, wire the incremental ETL service over a fixture or
    production source dir, start the daily scheduler + HTTP API."""
    import argparse

    from .session import get_spark

    p = argparse.ArgumentParser(
        prog="bq-pg-etl-service",
        description="Watermarked incremental ETL service (daily cron + HTTP API)",
    )
    p.add_argument("--source", default="/root/testdata/sf0.001", help="events source dir")
    p.add_argument(
        "--state", default=timestamp_file(),
        help="watermark file path (default: TIMESTAMP_FILE env, last_timestamp.txt)",
    )
    p.add_argument("--target", default="etl_target.parquet", help="append target path")
    p.add_argument("--jdbc-url", help="optional JDBC url → staging+MERGE sink")
    p.add_argument("--jdbc-table", default="application_events")
    p.add_argument("--port", type=int, help="HTTP port (default: FLASK_PORT env)")
    args = p.parse_args(argv)
    jdbc = {"url": args.jdbc_url, "table": args.jdbc_table} if args.jdbc_url else None
    svc = EtlService(
        get_spark(app_name="etl-service"),
        source_dir=args.source,
        state_path=args.state,
        target_path=args.target,
        jdbc_target=jdbc,
    )
    svc.serve(port=args.port)
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
