"""Minimal versioned-table layer over parquet: MERGE semantics and
time travel, the two lakehouse capabilities plain `mode("append")`
cannot give you (what Delta/Iceberg provide; rebuilt here from
primitives so the engine is complete without either dependency).

Layout:
    table_dir/
      v=1/  v=2/ ...        immutable version snapshots (parquet)
      _manifest.json         {"current": N, "versions": {...}}

The manifest is the single source of truth and is published by
write-to-tmp + atomic os.replace — readers either see the old version
or the new one, never a half-state. Every writer that derives a
snapshot from a DataFrame publishes through one commit path,
``_commit``, under the table's ``TargetLock`` (same lock the
append/compaction paths take, so MERGE composes with them). Old
versions stay readable until vacuumed — that's time travel; vacuum
never drops the current version.

MERGE = read current snapshot, full-outer against the updates on the
key, matched rows take the update's values, unmatched-source rows
insert, unmatched-target rows carry over — one distributed join
(``_join_on_keys``, shared by every keyed writer), then a NEW
immutable snapshot. No file is ever rewritten in place. A batch that
repeats a key is rejected with ValueError: the join would emit one
row per copy and break the key's uniqueness.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .sinks import TargetLock

_MANIFEST = "_manifest.json"


def _manifest_path(table_dir: str) -> str:
    return os.path.join(table_dir, _MANIFEST)


def _version_dir(table_dir: str, v: int) -> str:
    return os.path.join(table_dir, f"v={v}")


def _read_manifest(table_dir: str) -> dict:
    p = _manifest_path(table_dir)
    if not os.path.exists(p):
        return {"current": 0, "versions": {}}
    with open(p) as f:
        return json.load(f)


def _publish_manifest(table_dir: str, manifest: dict) -> None:
    os.makedirs(table_dir, exist_ok=True)  # a ledger-only publish may come first
    tmp = _manifest_path(table_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, _manifest_path(table_dir))  # atomic on POSIX


def current_version(table_dir: str) -> int:
    return _read_manifest(table_dir)["current"]


def _next_version(m: dict) -> int:
    """Next version NUMBER: one past the highest ever published, not
    current+1 — after a restore_table rollback the abandoned newer
    versions still exist on disk, and current+1 would silently
    overwrite one."""
    highest = max((int(v) for v in m["versions"]), default=0)
    return max(highest, m["current"]) + 1


def read_table(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the current snapshot, or any retained version (time
    travel)."""
    m = _read_manifest(table_dir)
    v = m["current"] if version is None else version
    if v == 0 or str(v) not in m["versions"]:
        raise ValueError(f"version {v} does not exist in {table_dir}")
    return spark.read.parquet(_version_dir(table_dir, v))


def _commit(
    spark: SparkSession, table_dir: str, note: str, build, epoch: int | None = None
) -> dict:
    """Publish one new version under the table's lock; returns
    ``{"version", "rows"}``.

    ``build`` is the new snapshot, or a function of the current one
    (None for an empty table) that returns it; only a function makes
    the current snapshot be read. Its rows are counted by an
    ``Observation`` on the one write job. A function that returns None
    has nothing to publish: no version is written, and ``epoch`` (if
    any) still joins the ledger.

    ``epoch`` makes the commit exactly-once per micro-batch: an epoch
    already in the manifest's ``applied_epochs`` ledger returns
    ``{"version", "rows": None, "skipped_epoch"}`` with no Spark job,
    and a new one joins the ledger in the SAME manifest publish as the
    version pointer — a crash after the snapshot write but before the
    publish leaves the ledger un-advanced, so the replay overwrites
    the unpublished version dir and publishes once."""
    with TargetLock(table_dir):
        m = _read_manifest(table_dir)
        if epoch is not None and str(epoch) in m.get("applied_epochs", []):
            return {"version": m["current"], "rows": None, "skipped_epoch": epoch}
        if callable(build):
            cur = m["current"]
            build = build(spark.read.parquet(_version_dir(table_dir, cur)) if cur else None)
        rows = 0
        if build is not None:
            v = _next_version(m)
            obs = Observation()
            (
                build.observe(obs, F.count(F.lit(1)).alias("n"))
                .write.mode("overwrite")
                .parquet(_version_dir(table_dir, v))
            )
            m["versions"][str(v)] = {"note": note}
            m["current"] = v
            rows = obs.get["n"]
        if epoch is not None:
            m.setdefault("applied_epochs", []).append(str(epoch))
        _publish_manifest(table_dir, m)
        return {"version": m["current"], "rows": rows}


def _join_on_keys(
    base: DataFrame | None, updates: DataFrame, key_cols: list[str], schema
) -> DataFrame:
    """The keyed join every MERGE shares: ``base`` aliased ``b`` (an
    empty frame of ``schema`` when the table has no version yet)
    full-outer against ``updates`` aliased ``u``, null-safe on
    ``key_cols``. ``u.__present`` marks "the batch has this key":
    presence must not be inferred from key nullability (a null-keyed
    update row would misroute).

    A batch that repeats a key raises ValueError first (one aggregation
    over the batch): the join would emit one row per copy, and picking
    an arbitrary winner is the classic CDC corruption."""
    if not updates.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__n")).where(
        F.col("__n") > 1
    ).isEmpty():
        raise ValueError(
            f"batch has duplicate keys on {key_cols}; pre-collapse with a seq column"
        )
    if base is None:
        # an empty relation the optimizer can see, so the join folds
        # into a projection of the batch (no shuffle)
        base = updates.sparkSession.createDataFrame([], schema).where(F.lit(False))
    u = updates.withColumn("__present", F.lit(1)).alias("u")
    cond = [F.col(f"b.{k}").eqNullSafe(F.col(f"u.{k}")) for k in key_cols]
    return base.alias("b").join(u, cond, "full_outer")


def _upserted(cols: list[str]) -> list:
    """``cols`` over a ``_join_on_keys`` result: the update's value
    where the batch has the key, else the carried-over base value."""
    hit = F.col("u.__present").isNotNull()
    return [
        F.when(hit, F.col(f"u.{c}")).otherwise(F.col(f"b.{c}")).alias(c)
        for c in cols
    ]


def write_snapshot(df: DataFrame, table_dir: str, note: str = "") -> int:
    """Publish ``df`` as the next immutable version. Returns it."""
    return _commit(df.sparkSession, table_dir, note, df)["version"]


def merge_upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_cols: list[str],
) -> dict:
    """MERGE INTO: rows matching on ``key_cols`` take the update's
    values, new keys insert, untouched rows carry over — published as
    a new snapshot (the previous version remains readable). The join
    shuffles both sides on the key once; at 100 TB pair this with the
    daily-partition layout so only affected partitions join. A key
    repeated in ``updates`` raises ValueError."""
    cols = key_cols + [c for c in updates.columns if c not in key_cols]
    return _commit(
        spark,
        table_dir,
        f"merge on {key_cols}",
        lambda base: _join_on_keys(base, updates, key_cols, updates.schema).select(
            *_upserted(cols)
        ),
    )


def vacuum(table_dir: str, keep_last: int = 2) -> list[int]:
    """Drop the snapshot dirs older than both the current version and
    the last ``keep_last`` versions (bounded storage; time travel keeps
    only the retained window). The current version and every newer
    one (abandoned by a ``restore_table``) stay, so the table stays
    readable and the next write still numbers past the highest."""
    with TargetLock(table_dir):
        m = _read_manifest(table_dir)
        versions = sorted(int(v) for v in m["versions"])
        window = versions[-keep_last:] if keep_last else []
        to_drop = [v for v in versions if v < m["current"] and v not in window]
        for v in to_drop:
            shutil.rmtree(_version_dir(table_dir, v), ignore_errors=True)
            del m["versions"][str(v)]
        _publish_manifest(table_dir, m)
        return to_drop


def apply_changelog(
    spark: SparkSession,
    table_dir: str,
    changes: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
    epoch: int | None = None,
) -> dict:
    """Apply a CDC changelog (op ∈ {'I','U','D'}) to the versioned
    table — the consumer side of `etl_snapshot_diff`'s producer:
    inserts and updates upsert, deletes drop the key, untouched rows
    carry over; published as a new immutable snapshot. A key that
    appears more than once in the batch is rejected with ValueError;
    the caller collapses it first by a deterministic (key, seq) rule.

    ``epoch`` (streaming use — see ``run_streaming_cdc_to_lake``)
    makes the apply EXACTLY-ONCE per micro-batch through the
    manifest's epoch ledger (see ``_commit``): a replayed epoch runs
    no Spark job. A batch with no row publishes no version (one take
    job); its epoch still joins the ledger."""
    cols = key_cols + [c for c in changes.columns if c not in key_cols and c != op_col]

    def build(base):
        if changes.isEmpty():
            return None
        j = _join_on_keys(base, changes, key_cols, changes.drop(op_col).schema)
        survived = F.col("u.__present").isNull() | (F.col(f"u.{op_col}") != "D")
        return j.where(survived).select(*_upserted(cols))

    return _commit(spark, table_dir, f"changelog on {key_cols}", build, epoch)


def checked_write(
    df: DataFrame,
    table_dir: str,
    expectations: list[tuple[str, str]],
    note: str = "",
) -> int:
    """DQ-GATED publish: evaluate every (rule_name, violation_predicate)
    as one conditional-aggregate pass over ``df``; if ANY rule has
    violations the snapshot is NOT published and the error names each
    failing rule with its count — the promotion gate
    `dq_expectations_report` describes, actually wired to the write
    path. One extra aggregation job; the table's current version is
    untouched on failure."""
    agg = df.agg(
        *[F.count_if(F.expr(pred)).alias(name) for name, pred in expectations]
    ).first()
    failed = {name: agg[name] for name, _ in expectations if agg[name] > 0}
    if failed:
        raise ValueError(f"expectations failed, snapshot not published: {failed}")
    return write_snapshot(df, table_dir, note=note)


def scd2_apply(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
    effective_us: int,
) -> dict:
    """SCD Type-2 MAINTENANCE on the versioned dimension (the write-
    side twin of the `etl_scd2_user_state` derivation): for each
    incoming key whose ``compare_cols`` differ from the key's CURRENT
    row, the current row closes (``valid_to_us = effective_us``) and a
    new current row opens at ``effective_us``; brand-new keys open a
    first interval; unchanged keys and all history rows carry over
    untouched. One keyed join against the current slice only (history
    never joins), then a new immutable snapshot. A key repeated in
    ``updates`` raises ValueError. ``changed_keys`` (the rows opened)
    is counted on the write job.

    First call bootstraps the dimension: every update row opens with
    ``valid_from_us = effective_us`` and an open ``valid_to_us``.
    """
    attrs = key_cols + compare_cols
    opening = [
        F.lit(effective_us).cast("bigint").alias("valid_from_us"),
        F.lit(None).cast("bigint").alias("valid_to_us"),
        F.lit(1).alias("is_current"),
    ]
    dim_schema = updates.select(*attrs, *opening).schema
    opened = Observation()

    def build(base):
        cur = None if base is None else base.where(F.col("is_current") == 1)
        j = _join_on_keys(cur, updates, key_cols, dim_schema)
        changed = F.col("u.__present").isNotNull() & (
            F.col("b.is_current").isNull()  # brand-new key
            | ~F.struct(*[F.col(f"b.{c}") for c in compare_cols]).eqNullSafe(
                F.struct(*[F.col(f"u.{c}") for c in compare_cols])
            )
        )
        # current rows: carried over unchanged, or closed if changed
        kept_cur = j.where(F.col("b.is_current").isNotNull()).select(
            *[F.col(f"b.{c}").alias(c) for c in attrs],
            F.col("b.valid_from_us").alias("valid_from_us"),
            F.when(changed, F.lit(effective_us).cast("bigint"))
            .otherwise(F.col("b.valid_to_us"))
            .alias("valid_to_us"),
            F.when(changed, F.lit(0)).otherwise(F.lit(1)).alias("is_current"),
        )
        new_cur = (
            j.where(changed)
            .select(*[F.col(f"u.{c}").alias(c) for c in attrs], *opening)
            .observe(opened, F.count(F.lit(1)).alias("n"))
        )
        merged = kept_cur.unionByName(new_cur)
        if base is None:
            return merged
        history = base.where(F.col("is_current") == 0).select(*dim_schema.names)
        return history.unionByName(merged)

    v = _commit(spark, table_dir, f"scd2 @ {effective_us}", build)["version"]
    return {"version": v, "changed_keys": opened.get["n"]}


def _link_or_copy(src_dir: str, dst_dir: str, names: list[str]) -> None:
    """Hard-link each of ``names`` from ``src_dir`` into ``dst_dir``,
    copying instead where a link fails (across filesystems). Safe
    because snapshot files are never modified in place."""
    for name in names:
        src, dst = os.path.join(src_dir, name), os.path.join(dst_dir, name)
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)


def purge_keys(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    keys: list,
) -> dict:
    """Right-to-erasure (GDPR Art. 17) purge: publish a new version
    with every row matching ``keys`` removed, rewriting ONLY the
    files whose parquet footer min/max statistics can contain a
    target key — clean files are carried into the new version
    byte-identical (hard link when possible), so erasure cost scales
    with the files the subject actually touches, not with the table.
    A file with missing stats is treated as affected (conservative).

    History is then SCRUBBED: every earlier version is dropped from
    the manifest and disk, because a purge that time travel can undo
    is not an erasure. The returned stats make the operation
    auditable (what was rewritten, what was untouched, how many rows
    left). Serializes on the same TargetLock as every other writer.

    At cluster scale the same footer-pruning decision is what a
    key-sorted / z-ordered layout buys: purge requests cluster into
    few files instead of touching all of them (see
    operators/zorder.py).
    """
    import pyarrow.parquet as pq

    key_set = set(keys)
    with TargetLock(table_dir):
        m = _read_manifest(table_dir)
        if not m["current"]:
            raise ValueError(f"no current version in {table_dir}")
        cur_dir = _version_dir(table_dir, m["current"])
        data_files = sorted(
            f for f in os.listdir(cur_dir)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        affected, clean = [], []
        for fname in data_files:
            fpath = os.path.join(cur_dir, fname)
            meta = pq.ParquetFile(fpath).metadata
            try:
                idx = meta.schema.names.index(key_col)
            except ValueError as exc:
                raise ValueError(f"{key_col} not in {fpath}") from exc
            may_hit = any(
                st is None
                or not st.has_min_max
                or any(st.min <= k <= st.max for k in key_set)
                for st in (
                    meta.row_group(rg).column(idx).statistics
                    for rg in range(meta.num_row_groups)
                )
            )
            (affected if may_hit else clean).append(fname)

        v = _next_version(m)
        new_dir = _version_dir(table_dir, v)
        tmp_dir = new_dir + ".tmp"
        shutil.rmtree(tmp_dir, ignore_errors=True)
        os.makedirs(tmp_dir)
        rows_removed = 0
        if affected:
            paths = [os.path.join(cur_dir, f) for f in affected]
            # a NULL key is never doomed (isin gives NULL, not False)
            doomed = F.coalesce(F.col(key_col).isin(list(key_set)), F.lit(False))
            removed = Observation()  # counted on the rewrite job itself
            rewrite_dir = os.path.join(tmp_dir, "_rewrite")
            (
                spark.read.parquet(*paths)
                .observe(removed, F.count_if(doomed).alias("n"))
                .where(~doomed)
                .write.mode("overwrite")
                .parquet(rewrite_dir)
            )
            rows_removed = removed.get["n"]
            for i, part in enumerate(
                sorted(p for p in os.listdir(rewrite_dir) if p.endswith(".parquet"))
            ):
                os.replace(
                    os.path.join(rewrite_dir, part),
                    os.path.join(tmp_dir, f"purged-{i:05d}.parquet"),
                )
            shutil.rmtree(rewrite_dir)
        _link_or_copy(cur_dir, tmp_dir, clean)
        os.replace(tmp_dir, new_dir)

        scrubbed = sorted(int(x) for x in m["versions"])
        for old_v in scrubbed:
            shutil.rmtree(_version_dir(table_dir, old_v), ignore_errors=True)
        m["versions"] = {
            str(v): {"note": f"purge {len(key_set)} keys on {key_col}"}
        }
        m["current"] = v
        _publish_manifest(table_dir, m)
        return {
            "version": v,
            "files_rewritten": len(affected),
            "files_retained": len(clean),
            "rows_removed": rows_removed,
            "versions_scrubbed": scrubbed,
        }


def merge_additive(
    spark: SparkSession,
    table_dir: str,
    delta: DataFrame,
    key_cols: list[str],
    add_cols: list[str],
    epoch: int | None = None,
) -> dict:
    """ADDITIVE merge — the metrics-table counterpart of
    :func:`merge_upsert`: matched keys ADD the delta's mergeable
    partial states (counts, exact decimal sums) instead of replacing
    the row; unmatched delta keys insert; untouched rows carry over.
    This is the write side of the incremental-materialized-view
    algebra the `events_mergeable_daily_rollup` /
    `ivm_join_delta_orders` entries prove read-side: a nightly
    refresh folds ONE day's partials into stored state — O(|Δ| +
    |state|) per refresh, never O(history).

    Only works for genuinely mergeable columns (counts add, decimal
    sums add, min/max would need their own combinators — rejected
    here rather than silently mis-merged: pass them through
    ``key_cols`` or precompute). A key repeated in ``delta`` raises
    ValueError (pre-aggregate the delta per key). ``epoch`` gives
    exactly-once per micro-batch via the same manifest ledger as
    :func:`apply_changelog`, and an empty delta, like an empty
    changelog, publishes no version."""
    bad = [c for c in delta.columns if c not in key_cols and c not in add_cols]
    if bad:
        raise ValueError(
            f"non-key, non-additive columns {bad}: additive merge would "
            f"silently pick one side — drop them or declare them additive"
        )

    def build(base):
        if delta.isEmpty():
            return None
        return _join_on_keys(base, delta, key_cols, delta.schema).select(
            *_upserted(key_cols),
            *[
                (
                    F.coalesce(F.col(f"b.{c}"), F.lit(0))
                    + F.coalesce(F.col(f"u.{c}"), F.lit(0))
                ).alias(c)
                for c in add_cols
            ],
        )

    return _commit(spark, table_dir, f"additive merge on {key_cols}", build, epoch)


def clone_table(source_dir: str, target_dir: str) -> dict:
    """Zero-copy CLONE of the current version (the Delta 'shallow
    clone' shape, rebuilt on hard links): the clone's v=1 references
    the source's current data files byte-identically without copying
    them (falls back to a real copy across filesystems), under its
    own fresh manifest — so experiments branch from production state
    in O(files) time and O(0) extra storage, and diverge
    independently from the first write (immutable snapshots are never
    modified in place, so a shared file can never be changed by
    either side; purge_keys replaces rather than rewrites, which is
    what makes hard-link sharing safe).

    The clone starts with an empty epoch ledger — it is a NEW table
    whose future CDC stream is its own."""
    with TargetLock(source_dir):
        m = _read_manifest(source_dir)
        if not m["current"]:
            raise ValueError(f"no current version in {source_dir}")
        src = _version_dir(source_dir, m["current"])
        os.makedirs(target_dir, exist_ok=True)
        dst = _version_dir(target_dir, 1)
        tmp = dst + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
        _link_or_copy(src, tmp, files)
        os.replace(tmp, dst)
        note = f"clone of {source_dir} v={m['current']}"
        _publish_manifest(target_dir, {"current": 1, "versions": {"1": {"note": note}}})
        return {"version": 1, "files": len(files), "source_version": m["current"]}


def restore_table(table_dir: str, version: int) -> dict:
    """RESTORE (Delta's rollback verb): repoint ``current`` at a
    retained earlier version — no data movement, one atomic manifest
    publish. The abandoned newer versions stay on disk and readable
    (time travel forward still works; ``vacuum`` keeps them); a later
    write continues the version sequence from the HIGHEST version ever
    published, so restore never re-uses a version number."""
    with TargetLock(table_dir):
        m = _read_manifest(table_dir)
        if str(version) not in m["versions"]:
            raise ValueError(
                f"version {version} not retained in {table_dir} "
                f"(have: {sorted(map(int, m['versions']))})"
            )
        prev = m["current"]
        m["current"] = version
        m["versions"][str(version)]["note"] = (
            m["versions"][str(version)].get("note", "")
            + f" [restored over v={prev}]"
        )
        _publish_manifest(table_dir, m)
        return {"restored_to": version, "was": prev}
