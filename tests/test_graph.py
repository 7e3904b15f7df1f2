"""PageRank: per-node parity with a pure-Python power iteration plus
the conservation/ordering invariants (rows-only registry entry, so
this IS the correctness gate)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigquery_postgres_events_etl_spark.operators.graph import pagerank
from bigquery_postgres_events_etl_spark.registry import all_queries


def _reference_pagerank(edge_list, damping=0.85, n_iter=10):
    nodes = sorted({u for u, _ in edge_list} | {v for _, v in edge_list})
    out = {}
    for u, v in set(edge_list):
        out.setdefault(u, set()).add(v)
    n = len(nodes)
    rank = {x: 1.0 / n for x in nodes}
    for _ in range(n_iter):
        dangling = sum(rank[x] for x in nodes if x not in out)
        base = (1.0 - damping) / n + damping * dangling / n
        mass = {x: 0.0 for x in nodes}
        for u, vs in out.items():
            share = rank[u] / len(vs)
            for v in vs:
                mass[v] += share
        rank = {x: base + damping * mass[x] for x in nodes}
    return rank


def test_pagerank_matches_reference_and_conserves_mass(spark):
    # a small directed graph with a dangling node (4) and a hub (1)
    edges = [(2, 1), (3, 1), (4, 1), (1, 4), (3, 2), (5, 1), (5, 2), (2, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.rank for r in pagerank(df, n_iter=10).collect()}
    want = _reference_pagerank(edges, n_iter=10)
    assert set(got) == set(want)
    for node in want:
        assert abs(got[node] - want[node]) <= 1e-9, node
    assert abs(sum(got.values()) - 1.0) <= 1e-9  # mass conserved
    # node 4 receives ALL of the heavily-ranked 1's mass (1→4 is 1's
    # only out-edge), so it tops; 3 has no in-edges and bottoms
    assert got[4] == max(got.values())
    assert got[3] == min(got.values())


def _reference_pagerank_fixed(edge_list, scale, dnum=17, dden=20, n_iter=10):
    """Pure-Python FIXED-POINT power iteration mirroring
    pagerank(fixed_scale=...): all-integer arithmetic, floor division
    everywhere, dangling mass redistributed as (dnum*mass)//(dden*n)."""
    nodes = sorted({u for u, _ in edge_list} | {v for _, v in edge_list})
    out = {}
    for u, v in set(edge_list):
        out.setdefault(u, set()).add(v)
    n = len(nodes)
    base = ((dden - dnum) * scale) // (dden * n)
    rank = {x: scale // n for x in nodes}
    for _ in range(n_iter):
        dangling = sum(rank[x] for x in nodes if x not in out)
        mass = {x: 0 for x in nodes}
        for u, vs in out.items():
            share = rank[u] // len(vs)
            for v in vs:
                mass[v] += share
        rank = {
            x: base + (dnum * mass[x]) // dden + (dnum * dangling) // (dden * n)
            for x in nodes
        }
    return rank


def test_pagerank_fixed_point_matches_integer_reference(spark):
    """The fixed-point tier (the hash-oracle arithmetic) must equal a
    pure-Python integer power iteration EXACTLY — including the
    dangling-mass div path (node 4 dangles)."""
    edges = [(2, 1), (3, 1), (4, 1), (1, 4), (3, 2), (5, 1), (5, 2), (2, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    scale = 10**12
    got = {
        r.node: r.rank
        for r in pagerank(df, n_iter=10, fixed_scale=scale).collect()
    }
    want = _reference_pagerank_fixed(edges, scale, n_iter=10)
    assert got == want  # exact integer equality, no tolerance
    # floor leaks < 1 unit/node/round: total within n*n_iter of scale
    assert scale - 5 * 10 * 2 <= sum(got.values()) <= scale
    # same ordering semantics as the float tier
    assert got[4] == max(got.values())
    assert got[3] == min(got.values())


def test_pagerank_copurchase_entry(spark, sf_dir):
    from bigquery_postgres_events_etl_spark.operators.graph import (
        PAGERANK_FIXED_SCALE,
    )

    df = all_queries()["graph_pagerank_copurchase"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    total = sum(r.rank_fp for r in rows)
    # fixed-point mass conservation up to floor loss: each share/base
    # div leaks < 1 unit, so per iteration the leak is bounded by
    # |V| + |E| units out of 10^12 — relative loss is ~1e-7 at any
    # fixture scale; 0.1% is a generous ceiling
    assert 0.999 * PAGERANK_FIXED_SCALE <= total <= PAGERANK_FIXED_SCALE
    # bipartite both-directions graph has no dangling nodes and both
    # node families present
    assert any(r.node >= 10_000_000 for r in rows)
    assert any(r.node < 10_000_000 for r in rows)


def test_markov_removal_p4_invariants(spark, sf_dir):
    """Fixed-point P^4 removal tier: effects live in [0, scale],
    removal never beats the full chain, credit shares sum to ~scale
    (floor loss < 1 unit per channel), and channels match the float
    tier's channel set."""
    from bigquery_postgres_events_etl_spark.operators.graph import (
        MARKOV_P4_SCALE,
    )

    rows = all_queries()["events_markov_removal_p4"](spark, sf_dir).collect()
    assert rows
    full = rows[0].p4_full_fp
    assert full is not None and full > 0
    for r in rows:
        assert r.p4_full_fp == full  # broadcast scalar, same everywhere
        assert 0 <= r.p4_removed_fp <= full  # removal can't add mass
        assert 0 <= r.removal_effect_fp <= MARKOV_P4_SCALE
        assert r.touches > 0  # every channel was an observed touch
    shares = [r.credit_share_fp for r in rows]
    if any(s is not None for s in shares):
        total = sum(s for s in shares if s is not None)
        assert MARKOV_P4_SCALE - len(rows) <= total <= MARKOV_P4_SCALE
    float_tier = all_queries()["events_markov_attribution"](spark, sf_dir)
    assert {r.channel for r in rows} == {
        r.channel for r in float_tier.select("channel").collect()
    }


def test_markov_no_conversions_is_empty_on_both_squaring_paths(spark):
    """Zero-conversion input must yield an EMPTY attribution frame on
    BOTH squaring branches (driver-side numpy under the channel gate,
    distributed join-groupBy above it): the driver branch mirrors the
    distributed path's sparse semantics by dropping exact-zero
    p_conv entries — an explicit 0.0 'full' row would otherwise feed
    1 − x/0.0 = NaN into every removal effect."""
    from bigquery_postgres_events_etl_spark.operators import graph
    from bigquery_postgres_events_etl_spark.operators.graph import (
        markov_attribution,
    )

    rows = [
        (i, u, f"ch{i % 3}", f"2024-01-01 00:0{i % 6}:00")
        for u in (1, 2, 3)
        for i in range(6)
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    assert markov_attribution(events).count() == 0  # driver branch

    old = graph.MARKOV_DRIVER_SQUARING_MAX_CHANNELS
    graph.MARKOV_DRIVER_SQUARING_MAX_CHANNELS = 0  # force distributed
    try:
        assert markov_attribution(events, n_squarings=2).count() == 0
    finally:
        graph.MARKOV_DRIVER_SQUARING_MAX_CHANNELS = old


def test_pagerank_shuffle_fallback_matches_broadcast_path(spark):
    """Above the |V| broadcast gate the hash-join path must produce
    the same ranks (same decimal sums, same IEEE update chain) as the
    broadcast path — forced by zeroing the gate, same pattern as the
    markov squaring-gate test."""
    from bigquery_postgres_events_etl_spark.operators import graph

    edges = [(2, 1), (3, 1), (4, 1), (1, 4), (3, 2), (5, 1), (5, 2), (2, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(1,), (5,)], ["node"])
    got_b = {r.node: r.rank for r in graph.pagerank(df, n_iter=6).collect()}
    got_fb = {
        r.node: r.rank
        for r in graph.pagerank(df, n_iter=6, fixed_scale=10**12).collect()
    }
    got_pb = {
        r.node: r.rank
        for r in graph.pagerank(
            df, n_iter=6, fixed_scale=graph.PAGERANK_FIXED_SCALE, seeds=seeds
        ).collect()
    }
    old = graph.RANKS_BROADCAST_MAX_NODES
    graph.RANKS_BROADCAST_MAX_NODES = 0  # force the shuffle path
    try:
        got_s = {r.node: r.rank for r in graph.pagerank(df, n_iter=6).collect()}
        got_fs = {
            r.node: r.rank
            for r in graph.pagerank(df, n_iter=6, fixed_scale=10**12).collect()
        }
        got_ps = {
            r.node: r.rank
            for r in graph.pagerank(
                df, n_iter=6, fixed_scale=graph.PAGERANK_FIXED_SCALE, seeds=seeds
            ).collect()
        }
    finally:
        graph.RANKS_BROADCAST_MAX_NODES = old
    assert got_b == got_s  # bit-identical, not approximately equal
    assert got_fb == got_fs  # fixed-point tier: same integers on both paths
    assert got_pb == got_ps  # PPR: seed flag survives the hash-join path


def test_markov_driver_tail_matches_distributed_tail(spark):
    """r10 moved the ENTIRE under-gate markov tail driver-side (one
    bounded probs collect + numpy, replacing the scenario frames and
    the credit-frame joins). Both tails must agree on every output
    column for a converting corpus — approx because the distributed
    squaring sums k-products in shuffle order while numpy matmul is
    sequential (same doubles, different association)."""
    from bigquery_postgres_events_etl_spark.operators import graph
    from bigquery_postgres_events_etl_spark.operators.graph import (
        markov_attribution,
    )

    rows = []
    eid = 0
    for u in range(1, 30):
        for i in range(u % 4 + 1):
            rows.append((eid, u, f"ch{(u + i) % 3}", f"2024-01-01 00:{i:02d}:00"))
            eid += 1
        if u % 3 != 0:  # two thirds convert
            rows.append((eid, u, "purchase", "2024-01-01 01:00:00"))
            eid += 1
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    drv = {r.channel: r for r in markov_attribution(events).collect()}
    old = graph.MARKOV_DRIVER_SQUARING_MAX_CHANNELS
    graph.MARKOV_DRIVER_SQUARING_MAX_CHANNELS = 0  # force distributed
    try:
        dist = {r.channel: r for r in markov_attribution(events).collect()}
    finally:
        graph.MARKOV_DRIVER_SQUARING_MAX_CHANNELS = old
    assert set(drv) == set(dist) and drv, "paths disagree on channels"
    import pytest as _pytest

    for c in drv:
        a, b = drv[c], dist[c]
        assert a.touches == b.touches
        for col in (
            "p_conv_full",
            "p_conv_removed",
            "removal_effect",
            "credit_share",
            "attributed_conversions",
        ):
            assert getattr(a, col) == _pytest.approx(
                getattr(b, col), rel=1e-9, abs=1e-12
            ), (c, col)


def _reference_ppr_fixed(edge_list, seeds, scale, dnum=17, dden=20, n_iter=8):
    """Pure-Python integer personalized PageRank mirroring
    pagerank's seeds mode (teleport confined to seeds)."""
    nodes = sorted({u for u, _ in edge_list} | {v for _, v in edge_list})
    out = {}
    for u, v in set(edge_list):
        out.setdefault(u, set()).add(v)
    s = len(seeds)
    base = ((dden - dnum) * scale) // (dden * s)
    rank = {x: (scale // s if x in seeds else 0) for x in nodes}
    for _ in range(n_iter):
        dangling = sum(rank[x] for x in nodes if x not in out)
        mass = {x: 0 for x in nodes}
        for u, vs in out.items():
            share = rank[u] // len(vs)
            for v in vs:
                mass[v] += share
        rank = {
            x: (base if x in seeds else 0)
            + (dnum * mass[x]) // dden
            + ((dnum * dangling) // (dden * s) if x in seeds else 0)
            for x in nodes
        }
    return rank


def test_personalized_pagerank_fixed_matches_integer_reference(spark):
    import pytest

    from bigquery_postgres_events_etl_spark.operators.graph import (
        PAGERANK_FIXED_SCALE,
    )

    edges = [(2, 1), (3, 1), (4, 1), (1, 4), (3, 2), (5, 1), (5, 2), (2, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(1,), (5,)], ["node"])
    got = {
        r.node: r.rank
        for r in pagerank(
            df, n_iter=8, fixed_scale=PAGERANK_FIXED_SCALE, seeds=seeds
        ).collect()
    }
    want = _reference_ppr_fixed(edges, {1, 5}, 10**12, n_iter=8)
    assert got == want  # exact integers, dangling node 4 covered
    # teleport locality: the seed-adjacent hub (1) outranks the
    # seed-remote source (3, no in-edges, not a seed -> exactly 0)
    assert got[3] == 0
    assert got[1] > got[4] > 0
    with pytest.raises(ValueError):  # seeds exist only in the fixed-point tier
        pagerank(df, seeds=seeds)


def test_ppr_seeded_entry_invariants(spark, sf_dir):
    from bigquery_postgres_events_etl_spark.operators.graph import (
        PAGERANK_FIXED_SCALE,
    )

    rows = all_queries()["graph_ppr_seeded"](spark, sf_dir).collect()
    assert rows
    total = sum(r.rank_fp for r in rows)
    assert 0.999 * PAGERANK_FIXED_SCALE <= total <= PAGERANK_FIXED_SCALE
    assert all(r.rank_fp >= 0 for r in rows)
    # mass concentrates near the 10 seed customers: the top-ranked
    # node is a customer (seeds hold the teleport), parts rank too
    top = max(rows, key=lambda r: (r.rank_fp, -r.node))
    assert top.node < 10_000_000
    assert any(r.node >= 10_000_000 and r.rank_fp > 0 for r in rows)


def _reference_hits_fixed(edge_list, scale, n_iter=4):
    """Pure-Python integer HITS with L1 normalization mirroring
    hits_fixed's half-steps."""
    edge_set = sorted(set(edge_list))
    nodes = sorted({u for u, _ in edge_set} | {v for _, v in edge_set})
    n = len(nodes)
    hub = {x: scale // n for x in nodes}
    auth = {x: 0 for x in nodes}
    for _ in range(n_iter):
        raw = {x: 0 for x in nodes}
        for u, v in edge_set:
            raw[v] += hub[u]
        tot = sum(raw.values())
        auth = {x: (raw[x] * scale) // tot if tot else 0 for x in nodes}
        raw = {x: 0 for x in nodes}
        for u, v in edge_set:
            raw[u] += auth[v]
        tot = sum(raw.values())
        hub = {x: (raw[x] * scale) // tot if tot else 0 for x in nodes}
    return hub, auth


def test_hits_fixed_matches_integer_reference(spark):
    from bigquery_postgres_events_etl_spark.operators.graph import hits_fixed

    edges = [(1, 10), (1, 11), (2, 10), (3, 12), (2, 11), (3, 10)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: (r.hub_fp, r.auth_fp) for r in hits_fixed(df).collect()}
    hub, auth = _reference_hits_fixed(edges, 10**6)
    assert got == {x: (hub[x], auth[x]) for x in hub}
    # structure: 10 is the strongest authority (3 in-edges from all
    # hubs); pure sinks have hub 0, pure sources auth 0
    assert got[10][1] == max(v[1] for v in got.values())
    assert all(got[x][0] == 0 for x in (10, 11, 12))
    assert all(got[x][1] == 0 for x in (1, 2, 3))


def test_hits_copurchase_entry_invariants(spark, sf_dir):
    from bigquery_postgres_events_etl_spark.operators.graph import HITS_SCALE

    rows = all_queries()["graph_hits_copurchase"](spark, sf_dir).collect()
    assert rows
    hub_tot = sum(r.hub_fp for r in rows)
    auth_tot = sum(r.auth_fp for r in rows)
    # L1-normalized masses conserve up to floor loss
    assert 0.999 * HITS_SCALE <= hub_tot <= HITS_SCALE
    assert 0.999 * HITS_SCALE <= auth_tot <= HITS_SCALE
    # bipartite direction: customers (src side) never gain authority,
    # parts (dst side) never gain hubness
    assert all(r.auth_fp == 0 for r in rows if r.node < 10_000_000)
    assert all(r.hub_fp == 0 for r in rows if r.node >= 10_000_000)


def test_state_broadcast_gate_malformed_conf(spark):
    """A malformed spark.graph.stateBroadcastMaxNodes (e.g. '2e6')
    must raise ONE descriptive ValueError at the gate — naming the
    conf key — instead of an uncaught parse error deep inside
    pagerank/LPA/PPR/HITS (r11 verdict item 4)."""
    import pytest

    from bigquery_postgres_events_etl_spark.operators.graph import (
        STATE_BROADCAST_CONF,
        _state_broadcast_gate,
    )

    df = spark.range(1)
    try:
        spark.conf.set(STATE_BROADCAST_CONF, "2e6")
        with pytest.raises(ValueError, match=STATE_BROADCAST_CONF):
            _state_broadcast_gate(df, 123)
        spark.conf.set(STATE_BROADCAST_CONF, "500")
        assert _state_broadcast_gate(df, 123) == 500
    finally:
        spark.conf.unset(STATE_BROADCAST_CONF)
    assert _state_broadcast_gate(df, 123) == 123


def test_hits_flat_edge_fallback_matches_adjacency_path(spark):
    """r14 moved the under-gate HITS half-steps onto a pre-aggregated
    two-direction adjacency (map-side explode + broadcast lookup, no
    per-half edge shuffle). Above the gate the flat-edge path remains;
    both must produce IDENTICAL integers (the whole chain is exact
    BIGINT: raw sums, the edge-sum total, the div-normalize)."""
    from bigquery_postgres_events_etl_spark.operators import graph
    from bigquery_postgres_events_etl_spark.operators.graph import hits_fixed

    edges = [(1, 10), (1, 11), (2, 10), (3, 12), (2, 11), (3, 10), (4, 12), (10, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got_adj = {r.node: (r.hub_fp, r.auth_fp) for r in hits_fixed(df).collect()}
    old = graph.RANKS_BROADCAST_MAX_NODES
    graph.RANKS_BROADCAST_MAX_NODES = 0  # force the flat-edge path
    try:
        got_flat = {
            r.node: (r.hub_fp, r.auth_fp) for r in hits_fixed(df).collect()
        }
    finally:
        graph.RANKS_BROADCAST_MAX_NODES = old
    assert got_adj == got_flat  # bit-identical, not approximately equal


def test_hub_degree_subgate_forces_flat_edge_paths(spark):
    """r15 (verdict item 6): a hub node whose degree exceeds
    ADJ_MAX_NBRS must push HITS/pagerank/PPR off the adjacency-array
    branch (one multi-MB collect_list row at web scale) onto the
    flat-edge fallback — with IDENTICAL outputs, since the fallback is
    the same exact-integer chain. Forced by zeroing the sub-gate."""
    from bigquery_postgres_events_etl_spark.operators import graph
    from bigquery_postgres_events_etl_spark.operators.graph import (
        PAGERANK_FIXED_SCALE,
        hits_fixed,
        pagerank,
    )

    edges = [(1, 10), (1, 11), (2, 10), (3, 12), (2, 11), (3, 10), (4, 12), (10, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["node"])

    def snap():
        return (
            {r.node: (r.hub_fp, r.auth_fp) for r in hits_fixed(df).collect()},
            {
                r.node: r.rank
                for r in pagerank(df, n_iter=3, fixed_scale=10**12).collect()
            },
            {
                r.node: r.rank
                for r in pagerank(
                    df, n_iter=3, fixed_scale=PAGERANK_FIXED_SCALE, seeds=seeds
                ).collect()
            },
        )

    got_adj = snap()
    old = graph.ADJ_MAX_NBRS
    graph.ADJ_MAX_NBRS = 0  # every node is now a "hub": flat-edge path
    try:
        got_flat = snap()
    finally:
        graph.ADJ_MAX_NBRS = old
    assert got_adj == got_flat  # bit-identical across the sub-gate


def test_markov_p4_driver_tail_matches_distributed_tail(spark):
    """r14 moved the under-gate markov_removal_p4 tail driver-side
    (one bounded fetch of the transition table + exact-int squarings
    replicating the sparse-join semantics). Both tails are all-integer
    and must agree EXACTLY on every output column."""
    from pyspark.sql import functions as F

    from bigquery_postgres_events_etl_spark.operators import graph
    from bigquery_postgres_events_etl_spark.operators.graph import (
        markov_removal_p4,
    )

    rows = []
    eid = 0
    for u in range(1, 30):
        for i in range(u % 4 + 1):
            rows.append((eid, u, f"ch{(u + i) % 3}", f"2024-01-01 00:{i:02d}:00"))
            eid += 1
        if u % 3 != 0:  # two thirds convert
            rows.append((eid, u, "purchase", f"2024-01-01 00:{(u % 4) + 1:02d}:30"))
            eid += 1
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    def snap(df):
        return {
            r.channel: (
                r.touches,
                r.p4_full_fp,
                r.p4_removed_fp,
                r.removal_effect_fp,
                r.credit_share_fp,
            )
            for r in df.collect()
        }

    got_d = snap(markov_removal_p4(events))
    old = graph.MARKOV_DRIVER_SQUARING_MAX_CHANNELS
    graph.MARKOV_DRIVER_SQUARING_MAX_CHANNELS = 0  # force distributed
    try:
        got_s = snap(markov_removal_p4(events))
    finally:
        graph.MARKOV_DRIVER_SQUARING_MAX_CHANNELS = old
    assert got_d and got_d == got_s  # exact integers on both tails


def test_markov_p4_channel_named_full_both_tiers_agree(spark):
    """r15 ADVICE fix: a channel literally NAMED 'full' used to create
    a duplicate 'full' scenario row in the distributed tier (the
    unionByName carried no distinct), doubling every 'full'-scenario
    matrix entry, while the driver tail computed the full matrix once
    — under vs over the gate gave different p4_full_fp. Scenarios are
    now deduplicated on both tiers (and in the oracle via UNION);
    channel 'full' is its own removal scenario == the full matrix, so
    its removal effect is exactly 0 and both tiers agree bit-for-bit."""
    from pyspark.sql import functions as F

    from bigquery_postgres_events_etl_spark.operators import graph
    from bigquery_postgres_events_etl_spark.operators.graph import (
        markov_removal_p4,
    )

    rows = []
    eid = 0
    for u in range(1, 24):
        # journeys mixing an ordinary channel with one literally
        # named 'full' (the scenario-sentinel collision)
        for i, ch in enumerate(["full", "ch1"][: u % 2 + 1]):
            rows.append((eid, u, ch, f"2024-01-01 00:{i:02d}:00"))
            eid += 1
        if u % 3 != 0:
            rows.append((eid, u, "purchase", f"2024-01-01 00:{(u % 2) + 1:02d}:30"))
            eid += 1
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    def snap(df):
        return {
            r.channel: (
                r.touches,
                r.p4_full_fp,
                r.p4_removed_fp,
                r.removal_effect_fp,
                r.credit_share_fp,
            )
            for r in df.collect()
        }

    got_d = snap(markov_removal_p4(events))
    old = graph.MARKOV_DRIVER_SQUARING_MAX_CHANNELS
    graph.MARKOV_DRIVER_SQUARING_MAX_CHANNELS = 0  # force distributed
    try:
        got_s = snap(markov_removal_p4(events))
    finally:
        graph.MARKOV_DRIVER_SQUARING_MAX_CHANNELS = old
    assert "full" in got_d
    assert got_d == got_s  # bit-identical across the gate
    # the deduplicated scenario 'full' IS the full matrix, so channel
    # 'full' has removed mass == full mass and its effect collapses
    # to exactly 0 — the collision semantics both tiers now share
    assert got_d["full"][3] == 0
