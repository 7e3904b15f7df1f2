"""CLI — mirror of the reference's batch extractor surface
(extract_bq.py:291-352) on the Spark engine.

Parity points:
- `--from/--to` XOR `--days N` (mutually exclusive, one required);
- multi-format date parsing with the reference's four formats (X1);
- `--events` overrides the tracked-event set;
- sink: `--output CSV-dir` XOR `--parquet target` (the reference's
  `--output` XOR `--postgres`); default output name
  `bq_export_{from}_to_{to}` (extract_bq.py:352);
- summary log: rows + duration, exit code 1 on failure
  (extract_bq.py:377-390).
"""

from __future__ import annotations

import argparse
import datetime
import logging
import sys
import time

log = logging.getLogger("bq_pg_etl_spark")

_FORMATS = ["%Y-%m-%d", "%Y/%m/%d", "%d-%m-%Y", "%d/%m/%Y"]


def parse_date(s: str) -> datetime.date:
    """X1 — reference: extract_bq.py:278-288 (error if no format matches)."""
    for fmt in _FORMATS:
        try:
            return datetime.datetime.strptime(s, fmt).date()
        except ValueError:
            continue
    raise argparse.ArgumentTypeError(f"unrecognized date: {s!r} (formats: {_FORMATS})")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="bq-pg-etl-spark",
        description="Spark-native events extract (reference-parity CLI)",
    )
    rng = p.add_mutually_exclusive_group(required=True)
    rng.add_argument("--from", dest="date_from", type=parse_date)
    rng.add_argument("--days", type=int, help="relative window [today-N, today]")
    p.add_argument("--to", dest="date_to", type=parse_date)
    p.add_argument("--events", nargs="+", help="tracked event names (overrides default)")
    sink = p.add_mutually_exclusive_group()
    sink.add_argument("--output", help="CSV output directory")
    sink.add_argument("--parquet", help="idempotent-append parquet target")
    p.add_argument("--source", default="/root/testdata/sf0.001", help="events source dir")
    p.add_argument("--single-file", action="store_true", help="coalesce CSV to one part")
    p.add_argument("--debug", action="store_true")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    logging.basicConfig(level=logging.DEBUG if args.debug else logging.INFO)
    if args.days is not None:
        date_to = datetime.date.today()
        date_from = date_to - datetime.timedelta(days=args.days)  # X3
    else:
        date_from, date_to = args.date_from, args.date_to or datetime.date.today()

    from .io import load_table
    from .operators.etl import flagship_pipeline
    from .session import get_spark
    from .sources.sinks import export_csv, idempotent_append_parquet

    t0 = time.time()
    try:
        spark = get_spark(app_name="cli-extract")
        events = load_table(spark, args.source, "events")
        out = flagship_pipeline(
            events,
            tracked=args.events,
            date_from=date_from.isoformat(),
            date_to=date_to.isoformat(),
        )
        if args.parquet:
            n = idempotent_append_parquet(spark, out, args.parquet)
        else:
            path = args.output or f"bq_export_{date_from}_to_{date_to}"
            n = export_csv(out, path, single_file=args.single_file)
        log.info("extracted %d rows in %.1fs", n, time.time() - t0)
        return 0
    except Exception:
        log.exception("extract failed")
        return 1


if __name__ == "__main__":
    sys.exit(main())
