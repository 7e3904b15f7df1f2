"""Versioned-table layer: MERGE semantics, time travel, vacuum, and
manifest atomicity."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from bigquery_postgres_events_etl_spark.io import load_table
from bigquery_postgres_events_etl_spark.sources.lakehouse import (
    current_version,
    merge_upsert,
    read_table,
    restore_table,
    vacuum,
    write_snapshot,
)


def test_merge_updates_inserts_and_carries_over(spark, sf_dir, tmp_path):
    table = str(tmp_path / "customers")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    v1 = write_snapshot(c, table, note="initial load")
    assert v1 == current_version(table) == 1

    # updates: change 10 balances, insert 5 new keys
    updated = (
        c.where(F.col("c_custkey") <= 10)
        .withColumn("c_acctbal", F.lit(0.0))
    )
    inserted = spark.createDataFrame(
        [(1_000_000 + i, f"new#{i}", 1.5) for i in range(5)],
        "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE",
    )
    r = merge_upsert(
        spark, table, updated.unionByName(inserted), ["c_custkey"]
    )
    assert r["version"] == 2

    now = read_table(spark, table)
    n_base = c.count()
    assert now.count() == n_base + 5  # inserts added, updates in place
    assert (
        now.where(F.col("c_custkey") <= 10)
        .agg(F.sum(F.abs("c_acctbal")))
        .first()[0]
        == 0.0
    )  # matched rows took the update
    # untouched rows carried over byte-for-byte
    untouched_now = now.where(
        (F.col("c_custkey") > 10) & (F.col("c_custkey") < 1_000_000)
    )
    untouched_before = c.where(F.col("c_custkey") > 10)
    assert untouched_now.exceptAll(untouched_before).count() == 0
    assert untouched_before.exceptAll(untouched_now).count() == 0

    # time travel: v1 still shows the pre-merge balances
    old = read_table(spark, table, version=1)
    assert old.count() == n_base
    assert (
        old.where(F.col("c_custkey") <= 10)
        .agg(F.sum(F.abs("c_acctbal")))
        .first()[0]
        > 0
    )

    # a batch that repeats a key is rejected, not merged into two rows
    small = str(tmp_path / "small")
    kv = "k BIGINT, v STRING"
    write_snapshot(spark.createDataFrame([(1, "a")], kv), small)
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(
            spark, small, spark.createDataFrame([(1, "b"), (1, "c")], kv), ["k"]
        )
    assert current_version(small) == 1
    assert [tuple(r) for r in read_table(spark, small).collect()] == [(1, "a")]


def test_vacuum_bounds_history_and_keeps_current(spark, sf_dir, tmp_path):
    table = str(tmp_path / "t")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    for i in range(4):
        write_snapshot(c.withColumn("v", F.lit(i)), table, note=f"s{i}")
    dropped = vacuum(table, keep_last=2)
    assert dropped == [1, 2]
    assert current_version(table) == 4
    assert read_table(spark, table).count() == c.count()
    try:
        read_table(spark, table, version=1)
        raise AssertionError("vacuumed version must not be readable")
    except ValueError:
        pass

    # after a restore, vacuum keeps the restored current version and
    # the abandoned newer ones: the table stays readable and the next
    # write takes a fresh number; once the table moves past them, the
    # old versions are ordinary history again
    table = str(tmp_path / "restored")
    for i in range(3):
        write_snapshot(spark.createDataFrame([(i,)], "v INT"), table)
    restore_table(table, 1)
    assert vacuum(table, keep_last=2) == []
    assert vacuum(table, keep_last=0) == []
    assert current_version(table) == 1
    assert [r.v for r in read_table(spark, table).collect()] == [0]
    assert write_snapshot(spark.createDataFrame([(3,)], "v INT"), table) == 4
    assert [r.v for r in read_table(spark, table, version=3).collect()] == [2]
    assert vacuum(table, keep_last=0) == [1, 2, 3]
    assert [r.v for r in read_table(spark, table).collect()] == [3]


def test_manifest_publish_is_atomic(spark, sf_dir, tmp_path):
    """A stranded manifest tmp (crash between write and rename) must
    not affect readers — the published manifest stays authoritative."""
    table = str(tmp_path / "t")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    write_snapshot(c, table)
    # simulate the crash artifact
    with open(os.path.join(table, "_manifest.json.tmp"), "w") as f:
        f.write('{"current": 999, "versions": {}}')
    assert current_version(table) == 1
    assert read_table(spark, table).count() == c.count()
    # and the next writer just overwrites the stale tmp
    write_snapshot(c, table)
    assert current_version(table) == 2
    m = json.load(open(os.path.join(table, "_manifest.json")))
    assert m["current"] == 2


def test_apply_changelog_insert_update_delete(spark, sf_dir, tmp_path):
    table = str(tmp_path / "t")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    n0 = c.count()
    write_snapshot(c, table)

    from bigquery_postgres_events_etl_spark.sources.lakehouse import (
        apply_changelog,
    )

    changes = spark.createDataFrame(
        [(1, 0.0, "U"), (2, 0.0, "U"), (9_999_991, 7.5, "I"), (3, None, "D")],
        "c_custkey BIGINT, c_acctbal DOUBLE, op STRING",
    )
    r = apply_changelog(spark, table, changes, ["c_custkey"])
    now = read_table(spark, table)
    assert r["rows"] == now.count() == n0 + 1 - 1  # +insert −delete
    assert now.where(F.col("c_custkey") == 3).count() == 0
    assert (
        now.where(F.col("c_custkey").isin(1, 2))
        .agg(F.sum(F.abs("c_acctbal")))
        .first()[0]
        == 0.0
    )
    assert now.where(F.col("c_custkey") == 9_999_991).count() == 1
    # pre-apply snapshot still intact (time travel)
    assert read_table(spark, table, version=1).count() == n0

    # duplicate-key changelog must be rejected, not silently resolved
    dup = spark.createDataFrame(
        [(1, 5.0, "U"), (1, 9.0, "D")],
        "c_custkey BIGINT, c_acctbal DOUBLE, op STRING",
    )
    try:
        apply_changelog(spark, table, dup, ["c_custkey"])
        raise AssertionError("duplicate keys must raise")
    except ValueError:
        pass


def test_checked_write_gates_bad_batches(spark, sf_dir, tmp_path):
    """A batch violating an expectation must NOT publish a version;
    a clean batch must."""
    from bigquery_postgres_events_etl_spark.sources.lakehouse import (
        checked_write,
    )

    table = str(tmp_path / "t")
    e = load_table(spark, sf_dir, "events")
    rules = [
        ("null_user", "user_id IS NULL"),
        ("negative_value", "value < 0"),
    ]
    clean = e.where(F.col("user_id").isNotNull() & (F.col("value") >= 0))
    v = checked_write(clean, table, rules)
    assert v == current_version(table) == 1

    bad = clean.withColumn(
        "user_id",
        F.when(F.col("event_id") % 100 == 0, None).otherwise(F.col("user_id")),
    )
    try:
        checked_write(bad, table, rules)
        raise AssertionError("violating batch must not publish")
    except ValueError as ex:
        assert "null_user" in str(ex)
    assert current_version(table) == 1  # still the clean version


def test_snapshot_schema_evolution(spark, sf_dir, tmp_path):
    """A later snapshot may add columns; time travel reads each
    version under its own schema."""
    table = str(tmp_path / "t")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    write_snapshot(c, table)
    write_snapshot(c.withColumn("segment", F.lit("retail")), table)
    assert "segment" in read_table(spark, table).columns
    assert "segment" not in read_table(spark, table, version=1).columns
    assert read_table(spark, table).count() == c.count()


def test_scd2_apply_maintains_validity_intervals(spark, sf_dir, tmp_path):
    """Three loads: bootstrap, a change batch (some keys change, some
    don't), and a revert — intervals must tile per key with exactly
    one current row, closed rows pinned to their change instant."""
    from bigquery_postgres_events_etl_spark.sources.lakehouse import (
        scd2_apply,
    )

    table = str(tmp_path / "dim")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    n_keys = c.count()
    r1 = scd2_apply(spark, table, c, ["c_custkey"], ["c_mktsegment"], 1000)
    assert r1["changed_keys"] == n_keys

    # change segment for keys <= 50, leave the rest
    upd = c.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") <= 50, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    n_low = c.where(F.col("c_custkey") <= 50).count()
    r2 = scd2_apply(spark, table, upd, ["c_custkey"], ["c_mktsegment"], 2000)
    assert r2["changed_keys"] == n_low

    dim = read_table(spark, table)
    assert dim.count() == n_keys + n_low  # one closed + one open per changed key
    cur = dim.where(F.col("is_current") == 1)
    assert cur.count() == n_keys  # exactly one current row per key
    assert cur.where(F.col("c_custkey") <= 50).where(
        F.col("c_mktsegment") != "CHANGED"
    ).count() == 0
    closed = dim.where(F.col("is_current") == 0)
    assert closed.count() == n_low
    assert closed.where(
        (F.col("valid_from_us") != 1000) | (F.col("valid_to_us") != 2000)
    ).count() == 0

    # revert: the changed keys change BACK — another n_low closures
    r3 = scd2_apply(spark, table, c, ["c_custkey"], ["c_mktsegment"], 3000)
    assert r3["changed_keys"] == n_low
    dim3 = read_table(spark, table)
    assert dim3.count() == n_keys + 2 * n_low
    assert dim3.where(F.col("is_current") == 1).count() == n_keys
    # per-key intervals tile: each key's rows ordered by valid_from
    # have valid_to == next valid_from (None only on the open row)
    rows = dim3.where(F.col("c_custkey") == 1).orderBy("valid_from_us").collect()
    assert [r.valid_to_us for r in rows[:-1]] == [
        r.valid_from_us for r in rows[1:]
    ]
    assert rows[-1].valid_to_us is None

    # a batch that repeats a key is rejected, not opened twice
    small = str(tmp_path / "small_dim")
    ks = "k BIGINT, s STRING"
    scd2_apply(spark, small, spark.createDataFrame([(1, "a")], ks), ["k"], ["s"], 1000)
    with pytest.raises(ValueError, match="duplicate keys"):
        scd2_apply(
            spark, small, spark.createDataFrame([(1, "b"), (1, "c")], ks),
            ["k"], ["s"], 2000,
        )
    assert current_version(small) == 1


def test_purge_keys_rewrites_only_affected_files_and_scrubs_history(
    spark, sf_dir, tmp_path
):
    """GDPR erasure: target rows vanish from the new version; files
    whose key range cannot contain a target key are carried over
    BYTE-IDENTICAL (footer-stat pruning — erasure cost ∝ affected
    files); and every earlier version is scrubbed, because a purge
    that time travel can undo is not an erasure."""
    import hashlib

    from bench import group_metrics
    from bigquery_postgres_events_etl_spark.sources.lakehouse import (
        current_version,
        purge_keys,
        read_table,
        write_snapshot,
    )

    target = str(tmp_path / "users_lake")
    users = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    # range-partition on the key → files carry disjoint key ranges, so
    # footer stats can actually prune
    write_snapshot(users.repartitionByRange(6, "c_custkey"), target, note="bootstrap")
    # plus one NULL-keyed row in its own file: a file without min/max
    # stats is rewritten, and a NULL key is never a purge target
    anon = users.limit(1).withColumn(
        "c_custkey", F.lit(None).cast(users.schema["c_custkey"].dataType)
    )
    write_snapshot(
        read_table(spark, target).where(F.lit(True)).unionByName(anon),
        target,
        note="second version",
    )
    v_before = current_version(target)
    cur_dir = os.path.join(target, f"v={v_before}")
    before_md5 = {
        f: hashlib.md5(open(os.path.join(cur_dir, f), "rb").read()).hexdigest()
        for f in os.listdir(cur_dir)
        if f.endswith(".parquet")
    }

    total = read_table(spark, target).count()
    # the three smallest keys: only the file holding the smallest key
    # (and the NULL-keyed file) can contain them. The second version's
    # files have overlapping key ranges, so three arbitrary keys can
    # fall inside every file's range and leave nothing to carry over.
    doomed = [
        r.c_custkey
        for r in read_table(spark, target)
        .where(F.col("c_custkey").isNotNull())
        .orderBy("c_custkey")
        .limit(3)
        .collect()
    ]
    sc = spark.sparkContext
    sc.setJobGroup("purge-keys", "purge-keys")
    try:
        stats = purge_keys(spark, target, "c_custkey", doomed)
    finally:
        sc._jsc.clearJobGroup()
    # rows_removed is observed on the rewrite: the affected file's
    # schema read and the rewrite are the only jobs (no count pass)
    assert group_metrics(spark, "purge-keys")["jobs"] == 2

    after = read_table(spark, target)
    assert after.where(F.col("c_custkey").isin(doomed)).count() == 0
    assert after.where(F.col("c_custkey").isNull()).count() == 1
    assert after.count() == total - stats["rows_removed"]
    assert stats["rows_removed"] == len(doomed)
    # pruning really pruned: not every file was rewritten, and the
    # carried-over files are byte-identical to the originals
    assert stats["files_retained"] > 0
    assert stats["files_rewritten"] < len(before_md5)
    new_dir = os.path.join(target, f"v={stats['version']}")
    for f in os.listdir(new_dir):
        if f in before_md5:
            got = hashlib.md5(open(os.path.join(new_dir, f), "rb").read()).hexdigest()
            assert got == before_md5[f], f"carried-over file {f} changed"
    # history is gone: manifest retains only the purged version and
    # old snapshot dirs are removed from disk
    m = json.load(open(os.path.join(target, "_manifest.json")))
    assert list(m["versions"]) == [str(stats["version"])]
    assert sorted(stats["versions_scrubbed"]) == list(range(1, v_before + 1))
    for old_v in range(1, v_before + 1):
        assert not os.path.exists(os.path.join(target, f"v={old_v}"))


def test_streaming_cdc_apply_matches_batch_and_replays_idempotently(
    spark, sf_dir, tmp_path
):
    """The streaming CDC loop must leave the table in exactly the
    state a single batch apply of all changes would (availableNow may
    split files into multiple epochs — each applies once, in order),
    and a FULL REPLAY from a fresh checkpoint must change nothing:
    the manifest's epoch ledger, committed atomically with the
    version pointer, is what makes at-least-once delivery
    exactly-once effect."""
    import json as _json

    from bench import group_metrics
    from bigquery_postgres_events_etl_spark.sources.lakehouse import (
        current_version,
        read_table,
        write_snapshot,
    )
    from bigquery_postgres_events_etl_spark.streaming.stream import (
        run_streaming_cdc_to_lake,
    )

    target = str(tmp_path / "cdc_lake")
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    ).limit(50)
    write_snapshot(base, target, note="bootstrap")
    keys = sorted(r.c_custkey for r in base.collect())

    changes_dir = tmp_path / "changes"
    changes_dir.mkdir()
    schema = "op STRING, c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE"
    batch1 = [
        ("U", keys[0], "renamed-0", 1.0),
        ("D", keys[1], None, None),
        ("I", 999001, "new-1", 5.0),
    ]
    batch2 = [
        ("U", 999001, "new-1-renamed", 6.0),
        ("D", keys[2], None, None),
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(
        str(changes_dir)
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(
        str(changes_dir)
    )
    # a zero-row changelog file: its epoch must publish no version
    spark.createDataFrame([], schema).coalesce(1).write.mode("append").parquet(
        str(changes_dir)
    )

    run_streaming_cdc_to_lake(
        spark, str(changes_dir), target, str(tmp_path / "ck1"),
        ["c_custkey"], schema, max_files_per_trigger=1,
    )
    got = {r.c_custkey: (r.c_name, r.c_acctbal) for r in read_table(spark, target).collect()}
    assert keys[1] not in got and keys[2] not in got
    assert got[keys[0]][0] == "renamed-0"
    assert got[999001] == ("new-1-renamed", 6.0)
    assert len(got) == 50 - 2 + 1
    v_after = current_version(target)
    assert v_after == 3  # bootstrap + the two non-empty epochs

    # fresh checkpoint = the stream replays every file; the ledger
    # must swallow every epoch without publishing a version, and
    # without running a Spark job
    replay = run_streaming_cdc_to_lake(
        spark, str(changes_dir), target, str(tmp_path / "ck2"),
        ["c_custkey"], schema, max_files_per_trigger=1,
    )
    assert group_metrics(spark, replay["run_id"])["jobs"] == 0
    assert current_version(target) == v_after
    again = {r.c_custkey: (r.c_name, r.c_acctbal) for r in read_table(spark, target).collect()}
    assert again == got
    m = _json.load(open(os.path.join(target, "_manifest.json")))
    assert len(m["applied_epochs"]) >= 1


def test_empty_first_epoch_on_a_new_table_joins_the_ledger_only(spark, tmp_path):
    """An epoch whose batch holds no row publishes no version but joins
    the ledger, also when the table directory does not exist yet (the
    first changelog file of a stream into a new table can be empty)."""
    from bigquery_postgres_events_etl_spark.sources.lakehouse import (
        apply_changelog,
        current_version,
        read_table,
    )
    from bigquery_postgres_events_etl_spark.streaming.stream import (
        run_streaming_cdc_to_lake,
    )

    def ledger(table):
        return json.load(open(os.path.join(table, "_manifest.json")))["applied_epochs"]

    schema = "op STRING, c_custkey BIGINT, c_name STRING"
    empty = spark.createDataFrame([], schema)
    changes_dir = str(tmp_path / "changes")
    empty.coalesce(1).write.parquet(changes_dir)

    streamed = str(tmp_path / "streamed_lake")
    r = run_streaming_cdc_to_lake(
        spark, changes_dir, streamed, str(tmp_path / "ck"), ["c_custkey"], schema
    )
    assert r["version"] == current_version(streamed) == 0
    assert ledger(streamed) == ["0"]

    direct = str(tmp_path / "direct_lake")
    assert apply_changelog(spark, direct, empty, ["c_custkey"], epoch=7) == {
        "version": 0,
        "rows": 0,
    }
    assert current_version(direct) == 0 and ledger(direct) == ["7"]
    one = spark.createDataFrame([("I", 1, "a")], schema)
    assert apply_changelog(spark, direct, one, ["c_custkey"], epoch=8)["version"] == 1
    assert ledger(direct) == ["7", "8"]
    assert [tuple(x) for x in read_table(spark, direct).collect()] == [(1, "a")]


def test_merge_additive_equals_full_recompute(spark, sf_dir, tmp_path):
    """Folding per-day partial states into the rollup table one day
    at a time must end in EXACTLY the state a full aggregation over
    all events produces (the write side of the mergeable-rollup
    algebra), with replayed epochs swallowed by the ledger and
    non-additive columns rejected loudly."""
    from bigquery_postgres_events_etl_spark.sources.lakehouse import (
        current_version,
        merge_additive,
        read_table,
    )

    table = str(tmp_path / "rollup")
    e = load_table(spark, sf_dir, "events")
    days = sorted(
        r.day for r in e.select(F.to_date("ts").alias("day")).distinct().collect()
    )

    def partials(day):
        return (
            e.where(F.to_date("ts") == F.lit(day))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(27,4)")).alias("sum_value"),
            )
        )

    for i, day in enumerate(days):
        merge_additive(
            spark, table, partials(day), ["event_type"], ["n", "sum_value"],
            epoch=i,
        )
    v = current_version(table)
    # replay every epoch — ledger must swallow all of them
    for i, day in enumerate(days):
        r = merge_additive(
            spark, table, partials(day), ["event_type"], ["n", "sum_value"],
            epoch=i,
        )
        assert r["skipped_epoch"] == i
    assert current_version(table) == v

    got = {
        r.event_type: (r.n, r.sum_value)
        for r in read_table(spark, table).collect()
    }
    want = {
        r.event_type: (r.n, r.sum_value)
        for r in e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,4)")).alias("sum_value"),
        )
        .collect()
    }
    assert got == want

    try:
        merge_additive(
            spark, table,
            partials(days[0]).withColumn("note", F.lit("x")),
            ["event_type"], ["n", "sum_value"],
        )
        raise AssertionError("non-additive column must be rejected")
    except ValueError as ex:
        assert "note" in str(ex)

    # a delta that repeats a key is rejected, not added twice
    small = str(tmp_path / "small")
    kn = "k BIGINT, n BIGINT"
    merge_additive(spark, small, spark.createDataFrame([(1, 5)], kn), ["k"], ["n"])
    # an empty delta publishes no version; its epoch joins the ledger
    r = merge_additive(spark, small, spark.createDataFrame([], kn), ["k"], ["n"], epoch=0)
    assert r == {"version": 1, "rows": 0} and current_version(small) == 1
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_additive(
            spark, small, spark.createDataFrame([(1, 2), (1, 3)], kn), ["k"], ["n"]
        )
    assert [tuple(r) for r in read_table(spark, small).collect()] == [(1, 5)]


def test_clone_is_zero_copy_and_diverges_independently(spark, sf_dir, tmp_path):
    """A clone must read byte-identically to the source's current
    version without copying data (same inode where the filesystem
    allows), and writes to either side after the clone must not leak
    into the other."""
    from bigquery_postgres_events_etl_spark.sources.lakehouse import (
        clone_table,
        current_version,
        merge_upsert,
        read_table,
        write_snapshot,
    )

    src = str(tmp_path / "prod")
    dst = str(tmp_path / "experiment")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    write_snapshot(c, src, note="prod v1")
    r = clone_table(src, dst)
    assert r["version"] == 1 and r["files"] > 0

    src_files = {
        f: os.stat(os.path.join(src, "v=1", f)).st_ino
        for f in os.listdir(os.path.join(src, "v=1"))
        if f.endswith(".parquet")
    }
    for f, ino in src_files.items():
        assert os.stat(os.path.join(dst, "v=1", f)).st_ino == ino, (
            "clone copied instead of linking"
        )
    assert read_table(spark, dst).exceptAll(read_table(spark, src)).count() == 0

    # diverge the clone; the source must not see it (and vice versa)
    upd = spark.createDataFrame(
        [(1, -42.0)], "c_custkey BIGINT, c_acctbal DOUBLE"
    )
    merge_upsert(spark, dst, upd, ["c_custkey"])
    assert current_version(dst) == 2 and current_version(src) == 1
    assert (
        read_table(spark, src).where(F.col("c_acctbal") == -42.0).count() == 0
    )
    assert (
        read_table(spark, dst).where(F.col("c_acctbal") == -42.0).count() == 1
    )


def test_restore_rolls_back_and_never_reuses_version_numbers(
    spark, sf_dir, tmp_path
):
    """RESTORE repoints current without touching data; a write after a
    restore must allocate a FRESH version number (current+1 would
    silently overwrite the abandoned newer snapshot)."""
    from bigquery_postgres_events_etl_spark.sources.lakehouse import (
        current_version,
        read_table,
        restore_table,
        write_snapshot,
    )

    table = str(tmp_path / "t")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    write_snapshot(c, table, note="v1")
    write_snapshot(c.withColumn("c_acctbal", F.lit(0.0)), table, note="v2")
    n = c.count()

    r = restore_table(table, 1)
    assert r == {"restored_to": 1, "was": 2}
    assert current_version(table) == 1
    assert read_table(spark, table).agg(F.sum(F.abs("c_acctbal"))).first()[0] > 0
    # forward time travel to the abandoned version still works
    assert (
        read_table(spark, table, version=2)
        .agg(F.sum(F.abs("c_acctbal")))
        .first()[0]
        == 0.0
    )

    # a write after restore continues from the HIGHEST version ever
    v3 = write_snapshot(c.withColumn("c_acctbal", F.lit(7.0)), table, note="v3")
    assert v3 == 3
    assert read_table(spark, table, version=2).count() == n  # untouched
    assert read_table(spark, table).where(F.col("c_acctbal") == 7.0).count() == n

    try:
        restore_table(table, 99)
        raise AssertionError("restoring an unknown version must raise")
    except ValueError:
        pass
