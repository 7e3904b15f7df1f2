"""The oracle sweep corpora of ``tools/check_oracle.py --corpus`` and
their both-ways verdict. No SparkSession: the builders write parquet
with pyarrow and DuckDB, and the verdict is a pure function."""

from __future__ import annotations

import filecmp
import os

import pyarrow.parquet as pq
import pytest

from tools.check_oracle import (
    CORPORA,
    DOC_LIMIT,
    DOC_TILE,
    SMOKE_SF,
    TABLES,
    findings,
    selected,
)

LEGS = {leg.label: leg for legs in CORPORA.values() for leg in legs}


def _build(tmp_path, label: str) -> str:
    d = tmp_path / label.replace(" ", "_")
    d.mkdir()
    LEGS[label].tables(str(d))
    return str(d)


def _read(d: str, table: str):
    return pq.read_table(os.path.join(d, f"{table}.parquet"))


def _assert_copied_except(d: str, changed: set[str]) -> None:
    for t in TABLES:
        if t not in changed:
            assert filecmp.cmp(
                os.path.join(d, f"{t}.parquet"),
                os.path.join(SMOKE_SF, f"{t}.parquet"),
                shallow=False,
            ), t


@pytest.mark.parametrize("table", ["documents", "embeddings", "events"])
def test_degenerate_empty_leg_empties_only_its_table(tmp_path, table):
    d = _build(tmp_path, f"empty {table}")
    out = _read(d, table)
    assert out.num_rows == 0
    assert out.schema.equals(
        pq.read_schema(os.path.join(SMOKE_SF, f"{table}.parquet")),
        check_metadata=True,
    )
    _assert_copied_except(d, {table})


@pytest.mark.parametrize("label, column", [
    ("one-type events", "event_type"),
    ("one-user events", "user_id"),
    ("const-ts events", "ts"),
])
def test_collapsed_leg_collapses_only_its_column(tmp_path, label, column):
    d = _build(tmp_path, label)
    out, src = _read(d, "events"), _read(SMOKE_SF, "events")
    assert out.column_names == src.column_names
    assert out.num_rows == src.num_rows
    assert len(set(src.column(column).to_pylist())) > 1
    assert len(set(out.column(column).to_pylist())) == 1
    for c in src.column_names:
        if c != column:
            assert out.column(c).to_pylist() == src.column(c).to_pylist(), c
    _assert_copied_except(d, {"events"})


def test_extreme_legs_scale_values_by_1e6(tmp_path):
    d = _build(tmp_path, "extreme events")
    out, src = _read(d, "events"), _read(SMOKE_SF, "events")
    assert out.column("value").to_pylist() == [
        v * 1e6 for v in src.column("value").to_pylist()
    ]
    assert out.drop(["value"]).to_pylist() == src.drop(["value"]).to_pylist()
    _assert_copied_except(d, {"events"})

    d = _build(tmp_path, "extreme prices")
    for table, col in (("orders", "o_totalprice"), ("lineitem", "l_extendedprice")):
        out, src = _read(d, table), _read(SMOKE_SF, table)
        assert out.column(col).to_pylist() == [
            v * 1e6 for v in src.column(col).to_pylist()
        ], col
        assert out.drop([col]).to_pylist() == src.drop([col]).to_pylist()
    _assert_copied_except(d, {"orders", "lineitem"})


def test_extreme_documents_are_tiled(tmp_path):
    d = _build(tmp_path, "extreme documents")
    src = {
        r["doc_id"]: r for r in _read(SMOKE_SF, "documents").to_pylist()
        if r["doc_id"] < DOC_LIMIT
    }
    out = _read(d, "documents").to_pylist()
    assert sorted(r["doc_id"] for r in out) == sorted(src)
    for r in out:
        s = src[r["doc_id"]]
        assert r["text"] == " ".join([s["text"]] * DOC_TILE)
        assert r["n_chars"] == s["n_chars"] * DOC_TILE
        assert (r["lang"], r["source"]) == (s["lang"], s["source"])
    _assert_copied_except(d, {"documents"})


def test_unicode_documents_are_non_ascii(tmp_path):
    d = _build(tmp_path, "unicode documents")
    docs = _read(d, "documents").to_pylist()
    assert len(docs) == 60
    # the one ASCII text is the repeated-space probe (empty tokens)
    ascii_docs = [r["text"] for r in docs if r["text"].isascii()]
    assert len(ascii_docs) < len(docs) // 5
    assert all("  " in t for t in ascii_docs)
    assert all(r["n_chars"] == len(r["text"]) for r in docs)
    _assert_copied_except(d, {"documents"})


def test_findings_check_expected_fails_both_ways():
    expected = frozenset({"guarded_a", "guarded_b"})
    assert findings(["guarded_a", "guarded_b"], expected) == []
    assert findings(["guarded_a", "guarded_b", "other"], expected) == [
        "UNEXPECTED FAIL other"
    ]
    assert findings(["guarded_a"], expected) == [
        "EXPECTED FAIL guarded_b did not fail"
    ]
    assert findings(["other"], frozenset()) == ["UNEXPECTED FAIL other"]


def test_every_filter_selects_a_registered_entry():
    """A renamed entry must not silently drop out of a sweep: each
    including filter matches a registered entry, and each expected
    fail is a registered entry its leg selects."""
    import __spark_entry__

    names = list(__spark_entry__.queries())
    for leg in LEGS.values():
        for f in leg.filters:
            if not f.startswith("!"):
                assert any(f in n for n in names), (leg.label, f)
        for n in leg.expected_fail:
            assert n in names and selected(n, leg.filters), (leg.label, n)
