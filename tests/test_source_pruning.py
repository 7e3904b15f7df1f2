"""Watermark-pruned source reads (io.load_events_after) and the
incremental trigger built on them: one footer pass keeps the source
files that can hold a row newer than the watermark, and a trigger with
none runs no Spark job. Each exactness rule of the pruning is pinned
here; the trigger-level tests run over a multi-day source written by
perfbench's day generator."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bench import group_metrics
from bigquery_postgres_events_etl_spark.io import _ts_footers, load_events_after, load_table
from bigquery_postgres_events_etl_spark.schemas import APPLICATION_EVENTS_DEDUP_KEY
from bigquery_postgres_events_etl_spark.streaming.incremental import run_incremental_etl
from perfbench.gen import DAY_US, EPOCH_2024_US, write_events_day


def _events(ts: list[int | None], ts_type=pa.timestamp("us"), etype: str = "click") -> pa.Table:
    """Fixture-shaped events whose ``ts`` holds ``ts`` (in ``ts_type``'s
    unit; bare INT64 when ``ts_type`` is int64)."""
    n = len(ts)
    raw = pa.array(ts, pa.int64())
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": raw if ts_type == pa.int64() else raw.cast(ts_type),
        "user_id": pa.array([1] * n, pa.int64()),
        "event_type": pa.array([etype] * n),
        "value": pa.array([1.0] * n),
        "props": pa.array(['{"k": 1}'] * n),
    })


def _src(tmp_path) -> str:
    src = tmp_path / "events.parquet"
    src.mkdir()
    return str(src)


def _read_names(df) -> list[str]:
    return sorted(os.path.basename(f) for f in df.inputFiles())


def _us_max(spark, sf_dir: str) -> int:
    return load_table(spark, sf_dir, "events").agg(F.max(F.unix_micros("ts"))).first()[0]


# -- the footer max is the read path's max -------------------------------


@pytest.mark.parametrize(
    "ts_type, values",
    [
        (pa.timestamp("us"), [EPOCH_2024_US + 7, EPOCH_2024_US + 3, EPOCH_2024_US + 9]),
        (pa.timestamp("ms"), [1_704_067_200_001, 1_704_067_200_005, 1_704_067_200_002]),
        (pa.timestamp("ns"), [EPOCH_2024_US * 1000 + 1999, EPOCH_2024_US * 1000, 5]),
        # bare INT64, the legacy nanos layout: negative values pin the
        # read path's truncation toward zero (-1500 div 1000 = -1)
        (pa.int64(), [-2500, -1500, -3999]),
    ],
    ids=["micros", "millis", "nanos", "bare_int64"],
)
def test_footer_max_is_the_read_paths_max(spark, tmp_path, ts_type, values):
    path = os.path.join(_src(tmp_path), "day.parquet")
    pq.write_table(_events(values, ts_type), path, row_group_size=1, store_schema=False)

    [(f, hi)] = _ts_footers(path)[1]

    assert f == path
    assert hi == _us_max(spark, str(tmp_path))


# -- which files are dropped ---------------------------------------------


def test_drops_only_files_whose_footer_proves_ts_at_most_the_watermark(spark, tmp_path):
    src = _src(tmp_path)
    pq.write_table(_events([100, 300], pa.int64()), f"{src}/a.parquet", row_group_size=1)
    pq.write_table(_events([200, 500], pa.int64()), f"{src}/b.parquet", row_group_size=1)
    sf = str(tmp_path)
    # bare INT64 nanos: the files' maxima read as 0 µs and 0 µs
    assert _ts_footers(src)[1] == [(f"{src}/a.parquet", 0), (f"{src}/b.parquet", 0)]
    assert load_events_after(spark, sf, 0) is None
    assert _read_names(load_events_after(spark, sf, -1)) == ["a.parquet", "b.parquet"]

    for name, us in (("a", 100), ("b", 200)):
        pq.write_table(_events([EPOCH_2024_US + us]), f"{src}/{name}.parquet")
    assert _read_names(load_events_after(spark, sf, EPOCH_2024_US + 100)) == ["b.parquet"]
    assert _read_names(load_events_after(spark, sf, EPOCH_2024_US + 99)) == ["a.parquet", "b.parquet"]
    assert load_events_after(spark, sf, EPOCH_2024_US + 200) is None


def test_keeps_files_whose_footer_cannot_bound_ts(spark, tmp_path):
    """INT96, no statistics, no ``ts`` column, an all-NULL ``ts`` row
    group and an unreadable footer are all read, whatever the
    watermark; only the provably old file is dropped."""
    src = _src(tmp_path)
    old = [EPOCH_2024_US]
    pq.write_table(_events(old), f"{src}/old.parquet")
    pq.write_table(_events(old), f"{src}/int96.parquet", use_deprecated_int96_timestamps=True)
    pq.write_table(_events(old), f"{src}/nostats.parquet", write_statistics=False)
    pq.write_table(_events(old).drop_columns(["ts"]), f"{src}/nots.parquet")
    pq.write_table(_events([None, None]), f"{src}/allnull.parquet")
    with open(f"{src}/torn.parquet", "wb") as f:
        f.write(b"PAR1 not a footer")

    maxima = dict(_ts_footers(src)[1])
    assert maxima[f"{src}/old.parquet"] == EPOCH_2024_US
    assert {os.path.basename(f) for f, hi in maxima.items() if hi is None} == {
        "int96.parquet", "nostats.parquet", "nots.parquet", "allnull.parquet", "torn.parquet"
    }
    assert pq.ParquetFile(f"{src}/int96.parquet").schema.column(1).physical_type == "INT96"
    assert _read_names(load_events_after(spark, str(tmp_path), EPOCH_2024_US)) == [
        "allnull.parquet", "int96.parquet", "nostats.parquet", "nots.parquet", "torn.parquet"
    ]


def test_file_list_is_the_one_spark_lists(spark, tmp_path):
    """A writer's ``_temporary/`` output, ``_SUCCESS``, dot files and
    in-flight copies are not part of the table: Spark's directory read
    skips them, and so does the pruning."""
    src = _src(tmp_path)
    pq.write_table(_events([EPOCH_2024_US]), f"{src}/day.parquet")
    newer = _events([EPOCH_2024_US + DAY_US])
    os.makedirs(f"{src}/_temporary/0")
    pq.write_table(newer, f"{src}/_temporary/0/part.parquet")
    pq.write_table(newer, f"{src}/.day2.parquet")
    pq.write_table(newer, f"{src}/day2.parquet._COPYING_")
    open(f"{src}/_SUCCESS", "w").close()

    assert [f for f, _ in _ts_footers(src)[1]] == [f"{src}/day.parquet"]
    assert load_events_after(spark, str(tmp_path), EPOCH_2024_US) is None
    assert _us_max(spark, str(tmp_path)) == EPOCH_2024_US  # Spark skips them too


@pytest.mark.parametrize("layout", ["partitioned", "glob_name"])
def test_nested_or_glob_named_layout_is_read_as_a_directory(spark, tmp_path, layout):
    """A partitioned layout keeps its partition columns, and a file name
    Spark would expand as a glob keeps its name, only when the directory
    itself is read: no pruning, the same files as load_table."""
    src = _src(tmp_path)
    name = "event_date=2024-01-01/day.parquet" if layout == "partitioned" else "day[1].parquet"
    os.makedirs(os.path.dirname(f"{src}/{name}"), exist_ok=True)
    pq.write_table(_events([EPOCH_2024_US]), f"{src}/{name}")

    assert _ts_footers(src)[1] is None
    got = load_events_after(spark, str(tmp_path), EPOCH_2024_US)
    want = load_table(spark, str(tmp_path), "events")
    assert got.inputFiles() == want.inputFiles() and got.columns == want.columns


def test_mixed_encoding_dir_still_raises(spark, tmp_path):
    src = _src(tmp_path)
    pq.write_table(_events([EPOCH_2024_US]), f"{src}/us.parquet")
    pq.write_table(_events([EPOCH_2024_US * 1000], pa.timestamp("ns")), f"{src}/ns.parquet",
                   store_schema=False)

    with pytest.raises(ValueError, match="mixed ts encodings"):
        load_events_after(spark, str(tmp_path), EPOCH_2024_US + DAY_US)
    r = run_incremental_etl(spark, str(tmp_path), str(tmp_path / "wm"), str(tmp_path / "t"))
    assert r["status"] == "error" and "mixed ts encodings" in r["error"]


# -- triggers ------------------------------------------------------------


def _trigger(spark, sf: str, tmp_path, group: str, wm: int | None = None, **kw) -> dict:
    """One run_incremental_etl under job group ``group``; ``wm``
    overwrites the watermark first (a crash replay rewinds it)."""
    state = str(tmp_path / "wm")
    if wm is not None:
        with open(state, "w") as f:
            f.write(str(wm))
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        r = run_incremental_etl(spark, sf, state, str(tmp_path / "target"), **kw)
    finally:
        sc._jsc.clearJobGroup()
    assert r["status"] == "success", r
    return r


DERBY = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby_tables(spark, url: str) -> list[str]:
    sql = "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T'"
    return sorted(r[0] for r in spark.read.format("jdbc").options(url=url, query=sql, driver=DERBY).load().collect())


@pytest.mark.parametrize("last", ["tracked", "untracked"])
def test_idle_trigger_skips_only_when_the_footers_prove_it(spark, tmp_path, last):
    """After a load, an idle trigger runs no job when the source's max
    ``ts`` row was committed, so the watermark reached it; when that row
    is an untracked event the watermark never passes it, the file is
    read again and finds nothing. Both sinks read each kept source row
    once (the batch stats are observed on the sink's write job). The
    JDBC leg skips the footer-proven idle trigger without touching its
    database; on the re-read one, as on a zero-row first load, it
    stages nothing, runs no ``MERGE`` and leaves no staging table
    behind."""
    src = _src(tmp_path)
    ts = [EPOCH_2024_US + i for i in range(10)]
    day = _events(ts)
    if last == "untracked":
        day = day.set_column(3, "event_type", pa.array(["click"] * 9 + ["error"]))
    pq.write_table(day, f"{src}/day.parquet")
    sf = str(tmp_path)
    (tmp_path / "jdbc").mkdir()
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    derby = {"url": url, "table": "t", "driver": DERBY}
    legs = {"parquet": (tmp_path, {}), "jdbc": (tmp_path / "jdbc", {"jdbc_target": derby})}
    empty = _trigger(spark, sf, tmp_path / "jdbc", f"prune-empty-{last}", wm=EPOCH_2024_US - 1,
                     tracked=["none"], jdbc_target=derby)
    assert empty["records_fetched"] == empty["records_inserted"] == 0
    assert _derby_tables(spark, url) == []  # a zero-row first load creates no target

    for sink, (state_dir, kw) in legs.items():
        load = _trigger(spark, sf, state_dir, f"prune-load-{last}-{sink}", wm=EPOCH_2024_US - 1, **kw)
        idle = _trigger(spark, sf, state_dir, f"prune-idle-{last}-{sink}", **kw)

        assert load["records_inserted"] == (10 if last == "tracked" else 9)
        assert group_metrics(spark, f"prune-load-{last}-{sink}")["input_records"] == 10
        assert idle["records_fetched"] == idle["records_inserted"] == 0
        assert not idle["watermark_advanced"]
        assert idle["last_processed_timestamp"] == load["last_processed_timestamp"]
        assert (group_metrics(spark, f"prune-idle-{last}-{sink}")["jobs"] == 0) == (last == "tracked")

    assert _derby_tables(spark, url) == ["T"]  # no staging table left
    target = spark.read.format("jdbc").options(url=url, dbtable="t", driver=DERBY).load()
    assert target.count() == load["records_inserted"]
    if last == "tracked":  # the JDBC leg returns before reaching its (absent) database
        jdbc = _trigger(spark, sf, tmp_path, "prune-jdbc",
                        jdbc_target={"url": "jdbc:derby:memory:absent", "table": "t"})
        assert jdbc["records_fetched"] == 0 and group_metrics(spark, "prune-jdbc")["jobs"] == 0


def _file_max_us(path: str) -> int:
    """A file's max ``ts`` in µs, from its data pages."""
    return pc.max(pq.read_table(path, columns=["ts"]).column("ts").cast(pa.int64())).as_py()


def _rows_newer_files(src: str, wm: int) -> int:
    """Rows of the source files whose data holds a ``ts`` above ``wm``."""
    return sum(
        pq.ParquetFile(os.path.join(src, f)).metadata.num_rows
        for f in os.listdir(src)
        if _file_max_us(os.path.join(src, f)) > wm
    )


def test_triggers_over_history_read_only_what_is_new(spark, tmp_path):
    """Over a four-day history, a new day's trigger reads only the
    source files above the watermark, and its anti-join reads no target
    record: Catalyst copies the batch's ``event_timestamp > wm`` onto
    the target side, and the target's earlier files fail it on their
    row-group stats. A crash replay with the watermark rewound reads
    the day again, reads only that day's target records, and inserts
    nothing. Records are the job group's ``input_records``."""
    sf, seed, rows = str(tmp_path), 808, 2000
    src = os.path.join(sf, "events.parquet")
    for d in range(4):
        write_events_day(seed, d, rows, rows // 5, sf)
    backfill = _trigger(spark, sf, tmp_path, "hist-backfill", wm=EPOCH_2024_US - 1)
    wm = backfill["last_processed_timestamp"]

    write_events_day(seed, 4, rows, rows // 5, sf)
    batch = _trigger(spark, sf, tmp_path, "hist-batch")
    replay = _trigger(spark, sf, tmp_path, "hist-replay", wm=wm)

    records = {g: group_metrics(spark, g)["input_records"] for g in ("hist-batch", "hist-replay")}
    source = _rows_newer_files(src, wm)
    # the new day, and the last old day only if its max-ts row is not committed
    assert rows <= source <= 2 * rows
    assert batch["records_inserted"] > 0
    assert records["hist-batch"] == source  # and no target record
    assert replay["records_fetched"] == batch["records_fetched"]
    assert replay["records_inserted"] == 0
    assert records["hist-replay"] == source + batch["records_inserted"]
    committed = spark.read.parquet(str(tmp_path / "target"))
    assert committed.count() == backfill["records_inserted"] + batch["records_inserted"]
    assert committed.dropDuplicates(list(APPLICATION_EVENTS_DEDUP_KEY)).count() == committed.count()
