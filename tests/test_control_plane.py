"""CLI + HTTP service parity tests (SURVEY §2.11), driven through the
real surfaces: argv in, files out; HTTP requests in, JSON out."""

from __future__ import annotations

import glob
import json
import threading
import urllib.request
from wsgiref.simple_server import make_server

import pytest

from bigquery_postgres_events_etl_spark.cli import build_parser, main, parse_date
from bigquery_postgres_events_etl_spark.service import EtlService


def test_parse_date_four_formats():
    import datetime

    d = datetime.date(2024, 1, 15)
    assert [parse_date(s) for s in ["2024-01-15", "2024/01/15", "15-01-2024", "15/01/2024"]] == [d] * 4
    with pytest.raises(Exception):
        parse_date("junk")


def test_cli_range_xor_days():
    p = build_parser()
    with pytest.raises(SystemExit):
        p.parse_args(["--from", "2024-01-01", "--days", "3"])  # mutually exclusive
    with pytest.raises(SystemExit):
        p.parse_args([])  # one required


def test_cli_csv_extract(spark, sf_dir, tmp_path):
    out = str(tmp_path / "export")
    rc = main(
        [
            "--from", "2024-01-05", "--to", "2024-01-10",
            "--source", sf_dir, "--output", out, "--single-file",
        ]
    )
    assert rc == 0
    parts = glob.glob(f"{out}/part-*.csv")
    assert len(parts) == 1
    with open(parts[0]) as f:
        header = f.readline().strip()
        first = f.readline().strip()
    assert header == "user_id,event_date,event_timestamp,event_name,event_id,event_name_detail"
    assert first  # rows present in the window


def test_cli_events_override(spark, sf_dir, tmp_path):
    out = str(tmp_path / "export2")
    rc = main(
        ["--from", "2024-01-01", "--to", "2024-01-31",
         "--source", sf_dir, "--output", out, "--single-file",
         "--events", "purchase"]
    )
    assert rc == 0
    with open(glob.glob(f"{out}/part-*.csv")[0]) as f:
        f.readline()
        names = {line.split(",")[3] for line in f if line.strip()}
    assert names == {"purchase"}


def test_cli_bad_source_exits_1(tmp_path):
    assert main(["--days", "3", "--source", "/nonexistent", "--output", str(tmp_path / "x")]) == 1


@pytest.fixture()
def service(spark, sf_dir, tmp_path):
    svc = EtlService(
        spark, sf_dir, str(tmp_path / "wm.txt"), str(tmp_path / "target")
    )
    server = make_server("127.0.0.1", 0, svc.wsgi_app)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{port}"
    server.shutdown()


def _get(url):
    with urllib.request.urlopen(url) as r:
        return r.status, json.loads(r.read())


def test_service_endpoints(service):
    code, body = _get(f"{service}/health")
    assert code == 200 and body["status"] == "healthy"
    code, body = _get(f"{service}/")
    assert "/trigger" in body["endpoints"]
    code, body = _get(f"{service}/status")
    assert body["last_result"] is None and "last_timestamp_iso" in body


def test_service_trigger_then_status(service):
    req = urllib.request.Request(f"{service}/trigger", method="POST", data=b"")
    with urllib.request.urlopen(req) as r:
        body = json.loads(r.read())
    assert body["status"] == "triggered"
    assert body["result"]["status"] == "success"
    _, status = _get(f"{service}/status")
    assert status["last_result"]["status"] == "success"
    assert status["last_timestamp"] > 0


def test_cli_parquet_sink(spark, sf_dir, tmp_path):
    """--parquet path: idempotent-append target; rerun adds nothing."""
    target = str(tmp_path / "ptarget")
    args = ["--from", "2024-01-01", "--to", "2024-01-31",
            "--source", sf_dir, "--parquet", target]
    assert main(args) == 0
    n1 = spark.read.parquet(target).count()
    assert n1 > 0
    assert main(args) == 0  # rerun
    assert spark.read.parquet(target).count() == n1


# ---------------------------------------------------------------------
# Scheduler (ST6 — reference: flask_server.py:279-289) + threaded
# server + env-var config parity
# ---------------------------------------------------------------------


def test_seconds_until_fire_today_and_tomorrow():
    import datetime

    from bigquery_postgres_events_etl_spark.service import seconds_until_fire

    now = datetime.datetime(2026, 8, 13, 1, 30, 0)
    assert seconds_until_fire(now, 2, 0) == 1800.0  # 02:00 is still ahead
    assert seconds_until_fire(now, 1, 30) == 86400.0  # exactly now → tomorrow
    assert seconds_until_fire(now, 1, 0) == 84600.0  # 01:00 passed → tomorrow
    assert seconds_until_fire(now, 0, 0) == 81000.0


def test_scheduler_fires_and_respects_single_flight():
    """Injected clock: next fire is always ~20ms away. The scheduled fn
    routes through EtlService.trigger's lock, so a manual run in flight
    turns the scheduled firing into a skip, not a concurrent run."""
    import datetime
    import threading
    import time

    from bigquery_postgres_events_etl_spark.service import DailyScheduler

    calls = []
    lock = threading.Lock()

    def guarded_run():
        if not lock.acquire(blocking=False):
            calls.append("skipped")
            return
        try:
            calls.append("ran")
        finally:
            lock.release()

    # clock pinned 20ms before the fire time → scheduler sleeps ~20ms/loop
    def now_fn():
        return datetime.datetime(2026, 8, 13, 1, 59, 59, 980_000)

    sched = DailyScheduler(guarded_run, hour=2, minute=0, now_fn=now_fn)
    sched.start()
    try:
        deadline = time.time() + 5
        while not calls and time.time() < deadline:
            time.sleep(0.01)
        assert "ran" in calls  # scheduled run fired

        with lock:  # simulate a manual /trigger in flight
            n0 = len(calls)
            deadline = time.time() + 5
            while len(calls) == n0 and time.time() < deadline:
                time.sleep(0.01)
            assert "skipped" in calls[n0:]  # fired → single-flight skip
    finally:
        sched.stop()
    assert sched.last_error is None


def test_scheduler_survives_fn_exception():
    import datetime
    import time

    from bigquery_postgres_events_etl_spark.service import DailyScheduler

    def boom():
        raise RuntimeError("nightly failure")

    def now_fn():
        return datetime.datetime(2026, 8, 13, 1, 59, 59, 990_000)

    sched = DailyScheduler(boom, hour=2, minute=0, now_fn=now_fn)
    sched.start()
    try:
        deadline = time.time() + 5
        while sched.fires < 2 and time.time() < deadline:
            time.sleep(0.01)
        assert sched.fires >= 2  # kept firing after the first failure
        assert "nightly failure" in (sched.last_error or "")
    finally:
        sched.stop()


def test_threaded_server_health_responsive_during_trigger(spark, sf_dir, tmp_path, monkeypatch):
    """/health answers while a slow synchronous /trigger is in flight —
    the threading server parity point (reference Flask is threaded; a
    single-threaded WSGI server would flap liveness probes)."""
    import time as _time

    from bigquery_postgres_events_etl_spark.service import ThreadingWSGIServer

    svc = EtlService(spark, sf_dir, str(tmp_path / "wm.txt"), str(tmp_path / "t"))

    started = threading.Event()

    def slow_run(*a, **k):
        started.set()
        _time.sleep(1.5)
        return {"status": "success", "records_inserted": 0}

    import bigquery_postgres_events_etl_spark.streaming.incremental as inc

    monkeypatch.setattr(inc, "run_incremental_etl", slow_run)

    server = make_server("127.0.0.1", 0, svc.wsgi_app, server_class=ThreadingWSGIServer)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        trig = threading.Thread(
            target=lambda: urllib.request.urlopen(
                urllib.request.Request(
                    f"http://127.0.0.1:{port}/trigger", method="POST", data=b""
                )
            ).read(),
            daemon=True,
        )
        trig.start()
        assert started.wait(timeout=5)
        t0 = _time.monotonic()
        code, body = _get(f"http://127.0.0.1:{port}/health")
        elapsed = _time.monotonic() - t0
        assert code == 200 and body["status"] == "healthy"
        assert elapsed < 1.0  # did not queue behind the 1.5s trigger
        trig.join(timeout=10)
    finally:
        server.shutdown()


def test_env_config_parity(monkeypatch):
    """The reference's env-var surface (.env.example) is honored, with
    identical defaults, read at call time."""
    from bigquery_postgres_events_etl_spark import config

    for var in ["ETL_LOOKBACK_HOURS", "TIMESTAMP_FILE", "ETL_SCHEDULE_HOUR",
                "ETL_SCHEDULE_MINUTE", "FLASK_PORT"]:
        monkeypatch.delenv(var, raising=False)
    assert config.lookback_hours() == 24
    assert config.timestamp_file() == "last_timestamp.txt"
    assert (config.schedule_hour(), config.schedule_minute()) == (2, 0)
    assert config.service_port() == 5000

    monkeypatch.setenv("ETL_LOOKBACK_HOURS", "48")
    monkeypatch.setenv("TIMESTAMP_FILE", "/tmp/wm.txt")
    monkeypatch.setenv("ETL_SCHEDULE_HOUR", "5")
    monkeypatch.setenv("ETL_SCHEDULE_MINUTE", "30")
    monkeypatch.setenv("FLASK_PORT", "8080")
    assert config.lookback_hours() == 48
    assert config.timestamp_file() == "/tmp/wm.txt"
    assert (config.schedule_hour(), config.schedule_minute()) == (5, 30)
    assert config.service_port() == 8080
    monkeypatch.setenv("FLASK_PORT", "junk")
    assert config.service_port() == 5000  # malformed → reference default


def test_service_main_state_defaults_to_timestamp_file(monkeypatch, tmp_path):
    """The service's watermark file is TIMESTAMP_FILE (default
    last_timestamp.txt, flask_server.py:49) unless --state names one."""
    from bigquery_postgres_events_etl_spark import service, session

    served = []
    monkeypatch.setattr(session, "get_spark", lambda **kw: None)
    monkeypatch.setattr(
        service.EtlService, "serve", lambda self, port=None: served.append(self)
    )

    monkeypatch.delenv("TIMESTAMP_FILE", raising=False)
    assert service.main([]) == 0
    assert served[-1].state_path == "last_timestamp.txt"

    monkeypatch.setenv("TIMESTAMP_FILE", str(tmp_path / "wm.txt"))
    assert service.main([]) == 0
    assert served[-1].state_path == str(tmp_path / "wm.txt")

    assert service.main(["--state", str(tmp_path / "other.txt")]) == 0
    assert served[-1].state_path == str(tmp_path / "other.txt")


def test_watermark_lookback_env(monkeypatch, tmp_path):
    """ST2 fallback honors ETL_LOOKBACK_HOURS when no explicit override
    is passed (reference: flask_server.py:64)."""
    from bigquery_postgres_events_etl_spark.sources.watermark import read_watermark_us

    monkeypatch.setenv("ETL_LOOKBACK_HOURS", "2")
    now_us = 1_000_000_000_000_000
    got = read_watermark_us(str(tmp_path / "missing.txt"), now_us=now_us)
    assert got == now_us - 2 * 3600 * 1_000_000
