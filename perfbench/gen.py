"""Seeded input generators.

Every table is a pure function of ``(seed, scale)``: the same seed writes
byte-identical parquet files, a different seed writes different ones.
Schemas follow the fixture tables (FIXTURES.md section B). Large tables
are written as several files of several row groups each, so a scan has
more than one split to run in parallel.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000
# 2024-01-01T00:00:00Z, the first day of the fixture events stream
EPOCH_2024_US = 1_704_067_200 * 1_000_000
EPOCH_1995_DAYS = 9131  # 1995-01-01 as days since 1970-01-01

EVENT_TYPES = ["click", "purchase", "signup", "view", "error"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "small", "large", "hot", "cold", "new", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "fr", "es", "zh", "de"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream): adding a table never
    shifts another table's values."""
    return np.random.default_rng([seed, *stream.encode()])


def _write(table: pa.Table, path: str, files: int = 1, row_groups: int = 1) -> None:
    """Write ``table`` as ``files`` parquet files of ``row_groups`` row
    groups each; a multi-file table is a directory named ``path``."""
    if files == 1:
        pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // row_groups)))
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(
            part,
            os.path.join(path, f"part-{i:05d}.parquet"),
            row_group_size=max(1, -(-part.num_rows // row_groups)),
        )


def _ts_us(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


# ---------------------------------------------------------------- events


def events_day(seed: int, day: int, rows: int, users: int, first_id: int) -> pa.Table:
    """One day of the events stream (fixture ``events`` schema).

    About 20% of rows are the untracked ``error`` type, 0.5% have a NULL
    user, and 2% repeat an earlier row's dedup key
    ``(user_id, ts, event_type)`` under a later ``event_id``.
    """
    rng = _rng(seed, f"events-day-{day}")
    n_dup = rows // 50
    n = rows - n_dup
    ts = np.sort(rng.integers(0, DAY_US, n)) + EPOCH_2024_US + day * DAY_US
    user = rng.integers(0, users, n).astype("float64")
    user[rng.random(n) < 0.005] = np.nan
    etype = rng.integers(0, len(EVENT_TYPES), n)
    src = rng.integers(0, n, n_dup)
    # duplicates follow their original so ts stays non-decreasing
    order = np.argsort(np.concatenate([np.arange(n), src]), kind="stable")
    ts = np.concatenate([ts, ts[src]])[order]
    user = np.concatenate([user, user[src]])[order]
    etype = np.concatenate([etype, etype[src]])[order]
    value = np.round(rng.exponential(50.0, rows), 2)
    k = rng.integers(0, 100, rows)
    user_arr = pa.array(user, pa.float64(), from_pandas=True).cast(pa.int64())
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + rows), pa.int64()),
            "ts": _ts_us(ts),
            "user_id": user_arr,
            "event_type": pa.array(np.array(EVENT_TYPES)[etype]),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([f'{{"k": {x}}}' for x in k.tolist()]),
        }
    )


def write_events_day(
    seed: int, day: int, rows: int, users: int, source_dir: str
) -> pa.Table:
    """Append day ``day`` to ``source_dir/events.parquet/`` as one file of
    four row groups; returns the rows written."""
    table = events_day(seed, day, rows, users, first_id=day * rows)
    out = os.path.join(source_dir, "events.parquet")
    os.makedirs(out, exist_ok=True)
    _write(table, os.path.join(out, f"day-{day:05d}.parquet"), row_groups=4)
    return table


def expected_commits(table: pa.Table, tracked: list[str]) -> tuple[int, int]:
    """(distinct dedup keys, largest event_timestamp in µs) among the
    rows the flagship pipeline keeps: tracked type, non-NULL user."""
    user = table.column("user_id").to_numpy(zero_copy_only=False)
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    etype = np.asarray(table.column("event_type").to_pylist())
    keep = ~np.isnan(user.astype("float64")) & np.isin(etype, tracked)
    keys = set(zip(user[keep].astype("int64").tolist(), ts[keep].tolist(), etype[keep].tolist()))
    return len(keys), int(ts[keep].max())


# ----------------------------------------------------------- analytics


def analytics_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (sf0.01 sizes:
    lineitem 60k, orders 15k, events 10k, documents 500)."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = _rng(seed, "customer")
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )

    r = _rng(seed, "supplier")
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )

    r = _rng(seed, "part")
    keys = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )

    r = _rng(seed, "orders")
    odate = EPOCH_1995_DAYS + r.integers(0, 2400, n_ord)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": np.round(r.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _ts_us(odate * DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
        }
    )

    r = _rng(seed, "lineitem")
    lok = np.sort(r.integers(0, n_ord, n_line))
    qty = r.integers(1, 51, n_line).astype("float64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lok, pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
            "l_shipdate": _ts_us((odate[lok] + r.integers(1, 96, n_line)) * DAY_US),
        }
    )

    r = _rng(seed, "events")
    ts = np.sort(r.integers(0, 30 * DAY_US, n_ev)) + EPOCH_2024_US
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts_us(ts),
            "user_id": pa.array(r.integers(0, max(150, int(15_000 * sf)), n_ev), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
            "value": np.round(r.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {x}}}' for x in r.integers(0, 100, n_ev).tolist()],
        }
    )

    r = _rng(seed, "documents")
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), m)]) for m in r.integers(10, 100, n_doc)]
    # near-duplicate documents (one word changed) and a few exact copies,
    # so the dedup entries have something to find
    for i in range(0, n_doc, 50):
        j = int(r.integers(0, n_doc))
        toks = texts[j].split()
        toks[int(r.integers(0, len(toks)))] = str(words[int(r.integers(0, len(WORDS)))])
        texts[i] = " ".join(toks)
    for i in range(25, n_doc, 200):
        texts[i] = texts[int(r.integers(0, n_doc))]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[r.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, n_vec)
    centers = r.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + r.normal(0.0, 1.0, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


# tables big enough to split into several files of several row groups
MULTI_FILE = {"lineitem": 4, "orders": 4, "events": 4}


def write_analytics(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every analytics table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in analytics_tables(seed, sf).items():
        files = MULTI_FILE.get(name, 1)
        _write(table, os.path.join(out_dir, f"{name}.parquet"), files=files,
               row_groups=2 if files > 1 else 1)
        counts[name] = table.num_rows
    return counts


def parquet_glob(out_dir: str, name: str) -> str:
    """DuckDB path for a table written by :func:`write_analytics`."""
    path = os.path.join(out_dir, f"{name}.parquet")
    return os.path.join(path, "*.parquet") if name in MULTI_FILE else path
