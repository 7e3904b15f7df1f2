"""Connected-components correctness: the iterative DataFrame label
propagation must equal a union-find oracle on the same pairs (the
rows-only registry entry's real check)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from bigquery_postgres_events_etl_spark.io import load_table, parallelize
from bigquery_postgres_events_etl_spark.operators.cluster import (
    connected_components,
    dup_clusters,
)
from bigquery_postgres_events_etl_spark.operators.dedup import minhash_lsh_pairs


def _union_find(pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min member id per root
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for root, members in comp.items() for n in members}


def test_connected_components_equal_union_find(spark, sf_dir):
    pairs_df = minhash_lsh_pairs(parallelize(load_table(spark, sf_dir, "documents")))
    pairs = [(r.doc_a, r.doc_b) for r in pairs_df.collect()]
    assert pairs, "fixture should contain planted near-duplicates"

    got = {
        r.node: r.comp for r in connected_components(pairs_df).collect()
    }
    want = _union_find(pairs)
    assert got == want


@pytest.mark.parametrize(
    "n_edges, partitions, shuffled",
    [(20, None, False), (300, 8, False), (300, 8, True)],
    ids=["20_edges", "300_edges_8_parts", "300_edges_8_parts_shuffled"],
)
def test_connected_components_chain(spark, n_edges, partitions, shuffled):
    """A long path graph exercises multi-round propagation (worst-case
    diameter), not just the near-clique dup shape. The 300-edge chains
    over 8 partitions run at the default max_iter: hop steps alone
    would need about 300 rounds, so the ordered chain fails without
    pointer jumping, and the one with shuffled ids fails without the
    hook step."""
    ids = list(range(n_edges + 1))
    if shuffled:
        random.Random(7).shuffle(ids)
    chain = [(ids[i], ids[i + 1]) for i in range(n_edges)]
    df = spark.createDataFrame(chain, ["doc_a", "doc_b"])
    if partitions:
        df = df.repartition(partitions)
    got = {r.node: r.comp for r in connected_components(df).collect()}
    assert got == _union_find(chain) == {i: 0 for i in range(n_edges + 1)}


def test_dup_clusters_canonical_and_sizes(spark, sf_dir):
    pairs_df = minhash_lsh_pairs(parallelize(load_table(spark, sf_dir, "documents")))
    cl = dup_clusters(pairs_df)
    rows = cl.collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        ids = sorted(m.doc_id for m in members)
        assert cid == ids[0]  # cluster id is the min member
        assert all(m.cluster_size == len(members) for m in members)
        canon = [m for m in members if m.is_canonical]
        assert len(canon) == 1 and canon[0].doc_id == cid
    # deletion invariant: dropping non-canonical rows removes
    # exactly (cluster_size - 1) docs per cluster
    n_total = len(rows)
    n_keep = cl.where(F.col("is_canonical")).count()
    assert n_keep == len(by_cluster)
    assert n_total - n_keep == sum(len(m) - 1 for m in by_cluster.values())


def test_pointer_jumping_raises_on_nonconvergence(spark):
    """The max_iter backstop must be loud, not a silent truncation
    that emits split clusters."""
    chain = [(i, i + 1) for i in range(0, 40)]
    df = spark.createDataFrame(chain, ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)


def test_connected_components_release_the_edge_cache(spark):
    """The persisted edge frame is dropped on both loop exits; the
    returned labels are checkpointed and stay readable without it."""
    from bigquery_postgres_events_etl_spark.cache import cached_dataframe_plans

    chain = spark.createDataFrame([(i, i + 1) for i in range(0, 40)], ["doc_a", "doc_b"])
    spark.catalog.clearCache()
    labels = connected_components(chain)
    assert not cached_dataframe_plans(spark)
    assert {r.comp for r in labels.collect()} == {0}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    assert not cached_dataframe_plans(spark)
