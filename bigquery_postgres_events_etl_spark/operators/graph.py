"""PageRank over an edge DataFrame — the canonical iterative
graph algorithm in the standard Spark shape: a driver-side loop whose
per-iteration body is one join + one aggregation, both distributed
(only loop control lives on the driver), with ``localCheckpoint``
truncating lineage each round (same discipline as
``cluster.connected_components``).

Scale shape per iteration, below the measured-|V| broadcast gate: a
map-side explode of the persisted in-neighbor adjacency (one array
row per node) + a broadcast share lookup + an exchange-free
aggregation on the pinned node partitioning. Above the gate: the edge
table shuffles once on ``dst`` (contribution delivery) after a
broadcast-free join with the current rank table on ``src`` — both
sides hash-partitioned on the node id, so Catalyst reuses the
partitioning across iterations. Cost is
O(|E|) per round; rank state is O(|V|). Dangling-node mass (nodes
with no out-edges) is redistributed uniformly — computed as a 1-row
aggregate broadcast into the rank update, never collected — so total
rank is conserved at every step (the invariant the tests pin) and the
driver truly runs ONLY loop control.

Not SQL-expressible (iteration), so the registry entry is rows-only;
tests/test_graph.py compares every node's rank against a pure-Python
reference and checks conservation + ordering properties.
"""

from __future__ import annotations

from fractions import Fraction
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import register


# Rank-state broadcast gate: below this measured node count the
# per-iteration rank/share table broadcasts into the edge join (zero
# big-side shuffle per round); above it the hash-join path runs.
# 2M nodes ≈ 50 MB of (node, share) rows — comfortable on executors
# sized for 100 TB scans; the web-scale |V| regime takes the fallback.
# Deployments with smaller executors override per-session via
# ``spark.conf.set("spark.graph.stateBroadcastMaxNodes", n)`` (r9
# ADVICE: an explicit F.broadcast bypasses autoBroadcastJoinThreshold,
# so the gate must be tunable without editing the module constant —
# which remains the default and the tests' forced-path toggle).
RANKS_BROADCAST_MAX_NODES = 2_000_000

# Degree sub-gate for the adjacency-ARRAY broadcast branches (r14
# verdict watch item / r15 item 6): the per-node neighbor arrays are
# |V|-gated, but a single hub node under that gate can still carry a
# ~2M-element array row (~tens of MB). Cap max(per-direction degree);
# a hub above it falls to the flat-edge path, whose parity the
# forced-path tests already pin. 1M longs ≈ 8 MB per row — bounded,
# and far above every fixture/copurchase degree.
ADJ_MAX_NBRS = 1_000_000

# No-dangling lineage-truncation cadence (see the in-loop comment);
# module-level so perf experiments can tune it without editing code.
# r10 re-measured under the adjacency-broadcast path (shallower
# per-iteration plans than the r8 edge-join that set every-3): sf0.1
# min-of-2 — every-2 6.24 s, every-3 3.23 s, every-4 3.00 s,
# no-checkpoint 2.97 s. Every-4 takes the no-checkpoint wall while
# still bounding plan depth for larger n_iter.
PAGERANK_CHECKPOINT_EVERY = 4

STATE_BROADCAST_CONF = "spark.graph.stateBroadcastMaxNodes"


def _state_broadcast_gate(df: DataFrame, default: int) -> int:
    """Resolve the iteration-state broadcast gate: the session conf
    key above when set (runtime-tunable per deployment), else the
    module default (monkeypatched by the forced-path parity tests)."""
    try:
        v = df.sparkSession.conf.get(STATE_BROADCAST_CONF, None)
        return int(v) if v is not None else default
    except (ValueError, TypeError) as exc:
        raise ValueError(
            f"session conf {STATE_BROADCAST_CONF}={v!r} must be an integer"
        ) from exc
    except Exception:
        return default


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    assume_distinct: bool = False,
    fixed_scale: int | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """(node, rank) after ``n_iter`` power iterations.

    Default (float) mode: ranks are doubles; per-node contribution
    sums run through exact DECIMAL(38,18) so each iteration's result
    is independent of aggregation order (the property that makes
    reruns and the test reference reproducible bit-for-bit).

    ``fixed_scale`` switches to FIXED-POINT integer arithmetic: rank
    is a BIGINT count of 1/fixed_scale units, shares are integer
    ``div``, and damping is applied as an exact rational (derived
    from ``damping`` via Fraction, e.g. 0.85 → 17/20). Every value in
    the loop is then an integer pure function of the graph — no IEEE
    rounding anywhere — which is what makes the result replayable on
    a second SQL engine (the recursive-CTE hash oracle on
    ``graph_pagerank_copurchase``; the LPA/kcore conversion pattern).
    Floor division leaks < 1 unit per node per iteration, so with
    scale 10^12 the total mass stays within n·n_iter/10^12 of 1 —
    the ranking/analysis semantics are unchanged.

    ``assume_distinct``: skip the defensive edge DISTINCT — a full
    edge-list exchange — when the caller's plan already guarantees
    uniqueness (e.g. projections of a distinct frame into disjoint id
    spaces). Duplicate edges would double-count contributions, so only
    set this when the guarantee is structural.

    ``seeds`` (fixed-point only, else ValueError): PERSONALIZED
    PageRank — the random surfer restarts at a seed node (the first
    column of ``seeds``) instead of anywhere, so rank mass measures
    proximity to the seeds (the recommendation / trust-propagation
    primitive). The initial rank, the (1-d) base and the dangling
    share go to seeds only, over the distinct seed count |S|:

        rank' = [seed] · ((dden-dnum)·scale) div (dden·|S|)
                + (dnum · Σ_in shares) div dden
                + [seed] · (dnum · dangling) div (dden·|S|)

    The node-determined seed flag is folded into the degree and
    adjacency frames ONCE (one broadcast join of the caller-bounded
    seed table) and rides the loop's grouping — zero per-iteration
    seed cost."""
    fixed, seeded = fixed_scale is not None, seeds is not None
    if seeded and not fixed:
        raise ValueError("personalized PageRank (seeds) needs fixed_scale")
    if fixed:
        frac = Fraction(str(damping))
        dnum, dden = frac.numerator, frac.denominator
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    # localCheckpoint truncates the upstream lineage but DROPS
    # partitioning (the r6-r8 watch item); the branch below pins the
    # join-appropriate partitioning before persisting.
    e = e.localCheckpoint(eager=False)
    if seeded:
        seed_flags = seeds.select(
            F.col(seeds.columns[0]).alias("node"), F.lit(1).alias("is_seed")
        ).distinct()
        n_seeds = seed_flags.count()  # loop-control scalar (bounded seed set)
        seed_col = F.coalesce("is_seed", F.lit(0)).alias("is_seed")
    # ONE aggregation pass builds the node set AND out-degrees (a src
    # occurrence weighs 1, a dst occurrence 0 — dst-only nodes appear
    # with outdeg 0): replaces the former distinct + left-join chain
    # (two exchanges + an extra checkpoint) with one exchange.
    # r14: deg stays LAZY — in the broadcast branch it is consumed
    # exactly once (the head scalars below; initial ranks now read the
    # persisted in_adj, whose aggregation covers the same key set), so
    # the former eager checkpoint spent a job + a cached |V| frame on
    # a single-consumer subtree. The fallback branch still checkpoints
    # it (zero_rows reads deg every iteration).
    deg = (
        e.select(F.col("src").alias("node"), F.lit(1).alias("w"))
        .union(e.select(F.col("dst").alias("node"), F.lit(0).alias("w")))
        .groupBy("node")
        # occ (total occurrences) rides the same aggregation so the
        # head job below can derive max in-degree (= occ − outdeg) for
        # the r15 hub sub-gate without a second pass over e
        .agg(
            F.sum("w").cast("long").alias("outdeg"),
            F.count(F.lit(1)).cast("long").alias("occ"),
        )
    )
    if seeded:
        deg = deg.join(F.broadcast(seed_flags), "node", "left").select(
            "node", "outdeg", "occ", seed_col
        )
    # loop-control scalars in ONE job: |V|, whether any dangling node
    # exists at all, and the max in-degree (the r15 hub sub-gate for
    # the adjacency-array branch). Symmetric edge sets (both
    # directions emitted, e.g. the co-purchase entry) structurally
    # have no dangling nodes — and then the per-iteration dangling
    # aggregate + broadcast would be n_iter jobs spent folding in a
    # constant zero. The dangling SET is fixed across iterations
    # (outdeg never changes), so the predicate is loop-invariant by
    # construction.
    head = deg.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("outdeg").alias("min_outdeg"),
        F.max(F.col("occ") - F.col("outdeg")).alias("max_indeg"),
    ).first()
    n, has_dangling = head["n"], head["min_outdeg"] == 0
    broadcast_ranks = (
        n <= _state_broadcast_gate(edges, RANKS_BROADCAST_MAX_NODES)
        and (head["max_indeg"] or 0) <= ADJ_MAX_NBRS
    )
    if broadcast_ranks:
        # rank state fits a broadcast (cardinality-GATED on the
        # measured |V|, shuffle fallback below — the tfidf df-gate
        # pattern). r10 (the r9 verdict's #3): the per-iteration input
        # is a pre-aggregated IN-NEIGHBOR adjacency — one (node,
        # outdeg, in_nbrs[]) row per node, built ONCE below, instead
        # of re-reading |E| edge rows from cache every round. Each
        # iteration is then a map-side
        # explode over the |V|-row cache + a broadcast share lookup +
        # a groupBy that reuses the pinned hashpartitioning(node)
        # (Generate and the broadcast join both preserve it, and
        # partitioning on node satisfies the (node, outdeg) grouping)
        # — ZERO exchange per iteration, same as late-r9, minus the
        # per-iteration deg left-join and the |E|-row cache scan.
        # sort_array: deterministic array order (the decimal sum is
        # order-independent; determinism helps plan-diff debugging).
        # Built the same weighted-union way as deg, ONE exchange, no
        # join, no extra repartition: a src occurrence carries w=1 and
        # a null nbr (collect_list skips nulls), a dst occurrence w=0
        # and its in-neighbor — so outdeg and the in-array emerge from
        # one aggregation whose output is already hashpartitioned on
        # node (persist preserves it; plan verified: zero Exchange
        # above the InMemoryTableScan in the iteration subtree).
        # src-only nodes get an EMPTY array → explode_outer emits one
        # null row, summed as exact zero below. Array rows are only
        # built in THIS branch: above the gate a skewed web-scale dst
        # (100M in-edges in one row) would be an OOM, so the fallback
        # keeps the flat edge form.
        nbr_t = e.schema["src"].dataType
        in_adj = (
            e.select(
                F.col("src").alias("node"),
                F.lit(1).alias("w"),
                F.lit(None).cast(nbr_t).alias("nbr"),
            )
            .union(
                e.select(
                    F.col("dst").alias("node"),
                    F.lit(0).alias("w"),
                    F.col("src").alias("nbr"),
                )
            )
            .groupBy("node")
            .agg(
                F.sum("w").cast("long").alias("outdeg"),
                F.sort_array(F.collect_list("nbr")).alias("in_nbrs"),
            )
        )
        if seeded:
            in_adj = in_adj.join(F.broadcast(seed_flags), "node", "left").select(
                "node", "outdeg", seed_col, "in_nbrs"
            )
        in_adj = in_adj.persist()
    else:
        # ranks too large to broadcast: hash-join path — pinning
        # hashpartitioning(src) means each iteration only exchanges
        # the rank side + the contribution groupBy. deg is read every
        # iteration here (zero_rows), so materialize it once.
        deg = deg.localCheckpoint(eager=True)
        e = e.repartition("src").persist()

    # Lineage-truncation cadence: with dangling nodes each iteration
    # references `ranks` TWICE (contributions + the dangling mass), so
    # the logical plan doubles per round and must checkpoint every
    # iteration; without them the reference is single and the plan
    # grows LINEARLY, so several iterations can fuse into one job —
    # measured at sf0.1: every-1 ≈ 6.1 s, every-3 ≈ 4.9 s (median of
    # 3), with no-checkpoint slower again (Catalyst/AQE overhead on
    # the 8-deep tree). Every 3 balances job-launch overhead against
    # plan depth.
    checkpoint_every = 1 if has_dangling else PAGERANK_CHECKPOINT_EVERY

    # mode-dependent expressions (see the fixed_scale docstring): the
    # loop below is arithmetic-agnostic — share/zero/mass-type/base
    # are the ONLY four points where float and fixed-point differ
    if fixed:
        n_tele = n_seeds if seeded else n  # size of the teleport set

        def confine(c):
            """Teleport term ``c``, zero off the seeds when seeded."""
            if not seeded:
                return c
            return F.when(F.col("is_seed") == 1, c).otherwise(F.lit(0).cast("long"))

        init_rank = confine(F.lit(fixed_scale // n_tele).cast("long"))
        zero_c = F.lit(0).cast("long")
        share = F.expr("rank div outdeg").cast("long")
        mass_t = "long"
        base_const = ((dden - dnum) * fixed_scale) // (dden * n_tele)
    else:
        init_rank = F.lit(1.0 / n)
        zero_c = F.lit(0).cast("decimal(38,18)")
        share = (F.col("rank") / F.col("outdeg")).cast("decimal(38,18)")
        mass_t = "double"
    # the loop's node-determined columns: grouping keys, carried as-is
    keys = ("node", "outdeg", "is_seed") if seeded else ("node", "outdeg")
    # initial ranks: same (node, outdeg) key set either way — from the
    # persisted in_adj in the broadcast branch (deg stays lazy there)
    ranks = (in_adj if broadcast_ranks else deg).select(*keys, init_rank.alias("rank"))
    # r15: every loop-INVARIANT Column/DataFrame is built ONCE here —
    # reusing the same immutable expression trees each iteration
    # yields the identical plan while cutting the per-iteration py4j
    # construction latency (the entry spent ~3000 driver round-trips
    # per build; the r14 simhash latency class, loop flavor)
    has_outdeg = F.col("outdeg") > 0
    shares_cols = (F.col("node").alias("src_node"), share.alias("c"))
    if broadcast_ranks:
        ex = in_adj.select(*keys, F.explode_outer("in_nbrs").alias("src_nbr"))
        lookup_cond = F.col("src_nbr") == F.col("src_node")
        in_mass_agg = (
            F.sum(F.coalesce(F.col("c"), zero_c)).cast(mass_t).alias("in_mass")
        )
    else:
        contrib_cond = F.col("src") == F.col("node")
        # the seed flag rides like outdeg: null on contribution rows,
        # its value on the node's zero row, restored by max()
        contrib_cols = (
            F.col("dst").alias("node"),
            F.lit(None).cast("long").alias("deg_row"),
            *([F.lit(None).cast("long").alias("seed_row")] if seeded else []),
            share.alias("c"),
        )
        zero_rows = deg.select(
            "node",
            F.col("outdeg").alias("deg_row"),
            *([F.col("is_seed").cast("long").alias("seed_row")] if seeded else []),
            zero_c.alias("c"),
        )
        step_aggs = (
            F.max("deg_row").alias("outdeg"),
            *([F.max("seed_row").alias("is_seed")] if seeded else []),
            F.sum("c").cast(mass_t).alias("in_mass"),
        )
    is_dangling = F.col("outdeg") == 0
    if fixed:
        # integer dangling mass: exact sum of fixed-point ranks
        dangling_agg = (
            F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("dangling_mass")
        )
        # all-integer update: base is a driver-constant, the damped
        # terms are exact-rational `div`s — no IEEE op anywhere, so a
        # second engine replays this bit-for-bit
        upd = confine(F.lit(base_const).cast("long")) + F.expr(
            f"({dnum} * in_mass) div {dden}"
        )
        if has_dangling:
            upd = upd + confine(
                F.expr(f"({dnum} * dangling_mass) div {dden * n_tele}")
            )
        rank_col = upd.cast("long").alias("rank")
    else:
        dangling_agg = F.coalesce(
            F.sum(F.col("rank").cast("decimal(38,18)")).cast("double"),
            F.lit(0.0),
        ).alias("dangling_mass")
        # same IEEE association as the pure-Python reference:
        # (1-d)/n + (d*dangling)/n + d*in_mass; with no dangling
        # nodes base reduces to the same float the reference
        # computes ((1-d)/n + d*0.0/n ≡ (1-d)/n in IEEE)
        base = F.lit((1.0 - damping) / n)
        if has_dangling:
            base = base + F.lit(damping) * F.col("dangling_mass") / F.lit(float(n))
        rank_col = (base + F.lit(damping) * F.col("in_mass")).alias("rank")
    for it in range(n_iter):
        if broadcast_ranks:
            # per-node share broadcasts into the adjacency lookup:
            # explode the in-neighbor arrays map-side (Generate
            # preserves the pinned hashpartitioning(node)), left-join
            # the broadcast share per in-neighbor, and aggregate with
            # NO exchange. Null contributions (empty-adjacency rows
            # from explode_outer; in-neighbors that are themselves
            # dangling never exist — an edge src has outdeg ≥ 1) fold
            # in as exact decimal zero, bit-identical to the former
            # deg-left-join's coalesce(in_mass, 0.0). outdeg rides the
            # groupBy key (node-determined, so partitioning on node
            # alone still satisfies the grouping) — no restore join.
            shares = ranks.where(has_outdeg).select(*shares_cols)
            stepped = (
                ex.join(F.broadcast(shares), lookup_cond, "left")
                .groupBy(*keys)
                .agg(in_mass_agg)
            )
        else:
            # contribution delivery and the rank update in ONE
            # exchange: instead of groupBy(dst) followed by a deg-join
            # (two stages), union the per-edge contribution rows with
            # a zero row per node carrying its outdeg, and aggregate
            # once — max(outdeg) takes the value from the unique deg
            # row (contribution rows carry null), and the
            # exact-decimal sum is unchanged by the added zero, so
            # every node emerges with exactly the old
            # coalesce(in_mass, 0) value.
            contrib_rows = e.join(ranks, contrib_cond).select(*contrib_cols)
            stepped = (
                contrib_rows.union(zero_rows)
                .groupBy("node")
                .agg(*step_aggs)
            )
        if has_dangling:
            # dangling mass stays IN-FRAME: a 1-row aggregate
            # broadcast into the rank update (the house scalar-join
            # pattern) instead of a per-iteration .first() — the r7
            # verdict's "only loop control lives on the driver"
            # inconsistency; n_iter driver round-trips saved per run
            dangling = ranks.where(is_dangling).agg(dangling_agg)
            stepped = stepped.crossJoin(F.broadcast(dangling))
        ranks = stepped.select(*keys, rank_col)
        if (it + 1) % checkpoint_every == 0 and it + 1 < n_iter:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", "rank")


def _purchase_edges(spark: SparkSession, sf_dir: str, both_ways: bool) -> DataFrame:
    """(src, dst) edges of the customer–part purchase graph shared by
    the PageRank, PPR and HITS entries: the DISTINCT (customer,
    10_000_000 + partkey) pairs of lineitem⨝orders, parts offset so
    both kinds share one node-id space. Directed, each pair is the
    customer → part edge; ``both_ways`` orients each (cust, part) pair
    in both directions instead."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust, part = ("cust", "part") if both_ways else ("src", "dst")
    bought = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias(cust),
            (F.col("l_partkey") + F.lit(10_000_000)).alias(part),
        )
        .distinct()
    )
    if not both_ways:
        return bought
    # both directions from ONE pass: a union of two projections would
    # execute the bought subtree (join + distinct) once per branch;
    # the explode emits each basket edge twice map-side instead
    return bought.select(
        F.explode(
            F.array(
                F.struct(F.col("cust").alias("src"), F.col("part").alias("dst")),
                F.struct(F.col("part").alias("src"), F.col("cust").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


PAGERANK_FIXED_SCALE = 10**12  # fixed-point units per 1.0 of rank
PAGERANK_COPURCHASE_ITERS = 8


@register(
    "graph_pagerank_copurchase",
    f"""
    WITH RECURSIVE
    bought AS (
      SELECT DISTINCT o.o_custkey AS cust,
                      l.l_partkey + 10000000 AS part
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT cust AS src, part AS dst FROM bought
      UNION ALL
      SELECT part AS src, cust AS dst FROM bought
    ),
    -- symmetric edge set: every node appears as src, so one GROUP BY
    -- yields both the node set and out-degrees (no dangling nodes)
    deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
    consts AS (SELECT COUNT(*) AS n FROM deg),
    pr (r, node, outdeg, rank_fp) AS (
      SELECT 0, d.node, d.outdeg,
             {PAGERANK_FIXED_SCALE} // c.n
      FROM deg d, consts c
      UNION ALL
      SELECT p.r + 1, p.node, p.outdeg,
             (3 * {PAGERANK_FIXED_SCALE}) // (20 * (SELECT n FROM consts))
             + (17 * COALESCE(
                  (SELECT SUM(x.rank_fp // x.outdeg)
                   FROM edges e JOIN pr x
                     ON x.node = e.src AND x.r = p.r
                   WHERE e.dst = p.node), 0)) // 20
      FROM pr p
      WHERE p.r < {PAGERANK_COPURCHASE_ITERS}
    )
    SELECT node, CAST(rank_fp AS BIGINT) AS rank_fp
    FROM pr WHERE r = {PAGERANK_COPURCHASE_ITERS}
    """,
)
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank on the bipartite customer↔part co-purchase graph
    (edges from lineitem⨝orders, both directions, so the stationary
    mass flows between popular parts and heavy buyers). Parts live at
    id 10_000_000 + partkey to share one node-id space.

    FULL HASH ORACLE (r10 verdict item 2, the LPA/kcore recursive-CTE
    pattern extended to numeric state): the entry runs ``pagerank`` in
    fixed-point mode — rank is a BIGINT count of 10^-12 units, shares
    are integer ``div``, damping 0.85 is the exact rational 17/20 —
    so each of the 8 iterations is pure integer arithmetic that the
    DuckDB recursive CTE above replays bit-for-bit ((3·S)//(20·n) ==
    ((20-17)·S)//(20·n) is the same (1-d)/n base the Spark side
    builds from Fraction("0.85")). Floor loss is < 1 unit per node
    per round, so ranking semantics match the float tier to ~1e-12;
    exact per-node parity of BOTH tiers with pure-Python references
    is additionally pinned in tests/test_graph.py."""
    # assume_distinct is structural here: the purchase pairs are
    # DISTINCT, and the two directions cannot collide because part ids
    # live at +10M — skipping pagerank's defensive DISTINCT saves a
    # full edge-list exchange (~1.2M rows at sf0.1)
    ranks = pagerank(
        _purchase_edges(spark, sf_dir, both_ways=True),
        n_iter=PAGERANK_COPURCHASE_ITERS,
        assume_distinct=True,
        fixed_scale=PAGERANK_FIXED_SCALE,
    )
    return ranks.select("node", F.col("rank").alias("rank_fp"))


PPR_N_SEEDS = 10
PPR_ITERS = 8


@register(
    "graph_ppr_seeded",
    f"""
    WITH RECURSIVE
    bought AS (
      SELECT DISTINCT o.o_custkey AS cust,
                      l.l_partkey + 10000000 AS part
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT cust AS src, part AS dst FROM bought
      UNION ALL
      SELECT part AS src, cust AS dst FROM bought
    ),
    deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
    seeds AS (
      SELECT o_custkey AS node FROM orders GROUP BY o_custkey
      ORDER BY COUNT(*) DESC, o_custkey LIMIT {PPR_N_SEEDS}
    ),
    ns AS (SELECT COUNT(*) AS s FROM seeds),
    pr (r, node, outdeg, rank_fp) AS (
      SELECT 0, d.node, d.outdeg,
             CASE WHEN d.node IN (SELECT node FROM seeds)
                  THEN {PAGERANK_FIXED_SCALE} // (SELECT s FROM ns)
                  ELSE 0 END
      FROM deg d
      UNION ALL
      SELECT p.r + 1, p.node, p.outdeg,
             CASE WHEN p.node IN (SELECT node FROM seeds)
                  THEN (3 * {PAGERANK_FIXED_SCALE})
                       // (20 * (SELECT s FROM ns))
                  ELSE 0 END
             + (17 * COALESCE(
                  (SELECT SUM(x.rank_fp // x.outdeg)
                   FROM edges e JOIN pr x
                     ON x.node = e.src AND x.r = p.r
                   WHERE e.dst = p.node), 0)) // 20
      FROM pr p
      WHERE p.r < {PPR_ITERS}
    )
    SELECT node, CAST(rank_fp AS BIGINT) AS rank_fp
    FROM pr WHERE r = {PPR_ITERS}
    """,
)
def graph_ppr_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank over the co-purchase graph, seeded at the
    10 heaviest customers (order count DESC, custkey ASC — a
    deterministic 'power-buyer cohort'): rank mass measures proximity
    to the cohort, the recommendation primitive ('parts bought near
    the customers who matter'). The graph_pagerank_copurchase run
    with ``pagerank``'s ``seeds``: the same fixed-point loop with the
    teleport confined to the cohort, replayed bit-for-bit by the
    recursive CTE; the seed flag rides the adjacency build — zero
    per-iteration seed cost."""
    # orderBy+limit plans as TakeOrderedAndProject (no global window)
    seeds = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("node"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("node"))
        .limit(PPR_N_SEEDS)
        .select("node")
    )
    ranks = pagerank(
        _purchase_edges(spark, sf_dir, both_ways=True),
        n_iter=PPR_ITERS,
        assume_distinct=True,
        fixed_scale=PAGERANK_FIXED_SCALE,
        seeds=seeds,
    )
    return ranks.select("node", F.col("rank").alias("rank_fp"))


HITS_SCALE = 10**6  # fixed-point units per 1.0 of hub/authority mass
HITS_ITERS = 4  # full rounds: each = auth half-step + hub half-step


def hits_fixed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = HITS_ITERS,
    scale: int = HITS_SCALE,
    assume_distinct: bool = False,
) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999) in fixed-point integer
    arithmetic with L1 normalization — the oracle-able formulation:

        auth'(j) = (Σ_{i→j} hub(i) · scale) div Σ_edges hub(src)
        hub'(i)  = (Σ_{i→j} auth'(j) · scale) div Σ_edges auth'(dst)

    L1 (sum) normalization replaces the classical L2 because integer
    division by an exact integer total is engine-replayable while
    sqrt is not needed anywhere; the ranking order is identical (both
    are positive rescalings of the same linear maps — power iteration
    on AᵀA/AAᵀ up to per-round scalar factors). Each half-step is one
    (state ⨝ edges) join + one node aggregation + a 1-row total
    broadcast, all hash-partitioned on node ids; the normalization
    total is the |V|-row sum of the raw frame (Σ_j raw(j) ==
    Σ_edges hub(src) — the identity the DuckDB CTE uses on the edge
    side). Overflow-safe by construction: values ≤ scale=10^6 after
    each normalization, raw ≤ max_deg·scale ≤ 10^10 for degrees to
    10^4, raw·scale ≤ 10^16 < 2^63."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    e = e.localCheckpoint(eager=False)
    # node set WITH degrees in one weighted-union aggregation (the
    # pagerank deg pattern): the normalization totals then come from
    # the edge-sum identity Σ_j raw(j) = Σ_edges hub(src) =
    # Σ_i hub(i)·outdeg(i) — a 1-row agg over |V| rows instead of a
    # second pass over the |E|-row raw subtree. r14: LAZY in the
    # broadcast branch (single consumer — the count; state then
    # initializes off the persisted adjacency), checkpointed in the
    # fallback where every half-step reads it.
    nodes = (
        e.select(F.col("src").alias("node"), F.lit(1).alias("wo"), F.lit(0).alias("wi"))
        .union(
            e.select(F.col("dst").alias("node"), F.lit(0).alias("wo"), F.lit(1).alias("wi"))
        )
        .groupBy("node")
        .agg(
            F.sum("wo").cast("long").alias("outdeg"),
            F.sum("wi").cast("long").alias("indeg"),
        )
    )
    # head scalars in ONE job (was a bare count): |V| plus the max
    # per-direction degree for the r15 hub sub-gate — a single hub
    # node under the |V| gate must not produce a multi-MB array row
    head = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("outdeg").alias("max_outdeg"),
        F.max("indeg").alias("max_indeg"),
    ).first()
    n = head["n"]
    broadcast_state = n <= _state_broadcast_gate(
        edges, RANKS_BROADCAST_MAX_NODES
    ) and max(head["max_outdeg"] or 0, head["max_indeg"] or 0) <= ADJ_MAX_NBRS

    if broadcast_state:
        # r14: the pagerank in-neighbor-adjacency pattern ported to
        # HITS — BOTH directions pre-aggregated ONCE into a persisted
        # (node, outdeg, indeg, in_nbrs[], out_nbrs[]) frame, so each
        # half-step is a map-side explode over the |V|-row cache + a
        # broadcast state lookup + an exchange-free aggregation
        # (Generate and the broadcast join preserve the pinned
        # hashpartitioning(node)). Replaces the per-half |E|-row
        # e⨝side shuffle (guide §2.4: 8 shuffles per run removed;
        # per-entry job count, bench sidecar BENCH_DETAIL.json: ~8
        # jobs per half-step → ~3). Array rows are
        # gate-bounded exactly as in pagerank — above the gate a
        # skewed web-scale node would OOM a collect_list, so the flat
        # edge path below remains the super-gate branch.
        nbr_t = e.schema["src"].dataType
        adj = (
            e.select(
                F.col("src").alias("node"),
                F.lit(1).alias("wo"),
                F.lit(0).alias("wi"),
                F.col("dst").alias("o_nbr"),
                F.lit(None).cast(nbr_t).alias("i_nbr"),
            )
            .union(
                e.select(
                    F.col("dst").alias("node"),
                    F.lit(0).alias("wo"),
                    F.lit(1).alias("wi"),
                    F.lit(None).cast(nbr_t).alias("o_nbr"),
                    F.col("src").alias("i_nbr"),
                )
            )
            .groupBy("node")
            .agg(
                F.sum("wo").cast("long").alias("outdeg"),
                F.sum("wi").cast("long").alias("indeg"),
                F.sort_array(F.collect_list("o_nbr")).alias("out_nbrs"),
                F.sort_array(F.collect_list("i_nbr")).alias("in_nbrs"),
            )
            .persist()
        )
        state = adj.select(
            "node",
            F.lit(scale // n).cast("long").alias("hub"),
            F.lit(0).cast("long").alias("auth"),
        )

        # r15: loop-invariant Columns/DataFrames built ONCE per
        # direction (the pagerank hoist) — the exploded adjacency
        # frames, join conditions and per-direction aggregate/update
        # expressions are identical every round, so reusing the same
        # immutable trees keeps the plan bit-identical while cutting
        # the ~4600 per-build py4j round-trips the 16 half-steps spent
        # re-constructing them.
        side_cols = (F.col("node").alias("jn"), F.col("hub"), F.col("auth"))
        nbr_cond = F.col("nbr") == F.col("jn")
        node_cond = F.col("node") == F.col("jn")
        tot_cond = F.col("tn") == F.col("jn")
        _dir: dict[str, dict] = {}
        for join_on, from_col, to_col in (
            ("src", "hub", "auth"),
            ("dst", "auth", "hub"),
        ):
            nbr_col = "in_nbrs" if join_on == "src" else "out_nbrs"
            deg = "outdeg" if join_on == "src" else "indeg"
            keep = "auth" if to_col == "hub" else "hub"
            _dir[join_on] = {
                "ex": adj.select("node", F.explode_outer(nbr_col).alias("nbr")),
                "tot_in": adj.select(F.col("node").alias("tn"), deg),
                "raw_agg": F.sum(
                    F.coalesce(F.col(from_col), F.lit(0).cast("long"))
                )
                .cast("long")
                .alias("raw"),
                "tot_agg": F.sum(F.col(from_col) * F.col(deg))
                .cast("long")
                .alias("tot"),
                "out_cols": (
                    "node",
                    F.col(keep),
                    F.expr(f"(raw * {scale}) div nullif(tot, 0)")
                    .cast("long")
                    .alias(to_col),
                ),
            }

        def _half(
            state: DataFrame, from_col: str, join_on: str, to_col: str
        ) -> DataFrame:
            """Exchange-free half-step: raw(node) = Σ ``from_col`` over
            the adjacency direction the old e-join keyed on
            (join_on='src' → in_nbrs: hub→auth; 'dst' → out_nbrs:
            auth→hub); tot = Σ from·deg over the SAME broadcast state
            (identical integer chain to the former state-side
            aggregate — adj and state share one key set)."""
            d = _dir[join_on]
            side = state.select(*side_cols)
            raw = (
                d["ex"]
                .join(F.broadcast(side), nbr_cond, "left")
                .groupBy("node")
                .agg(d["raw_agg"])
            )
            tot = d["tot_in"].join(F.broadcast(side), tot_cond).agg(d["tot_agg"])
            return (
                raw.join(F.broadcast(side), node_cond)
                .crossJoin(F.broadcast(tot))
                .select(*d["out_cols"])
                .select("node", "hub", "auth")
            )

    else:
        nodes = nodes.localCheckpoint(eager=True)
        state = nodes.select(
            "node",
            "outdeg",
            "indeg",
            F.lit(scale // n).cast("long").alias("hub"),
            F.lit(0).cast("long").alias("auth"),
        )

        def _half(
            state: DataFrame, from_col: str, join_on: str, to_col: str
        ) -> DataFrame:
            """One normalized half-step: propagate ``from_col`` across
            edges joined on ``join_on`` ('src' propagates hub→auth,
            'dst' propagates auth→hub), write ``to_col``."""
            side = state.select(F.col("node").alias("jn"), F.col(from_col).alias("v"))
            out_key = "dst" if join_on == "src" else "src"
            deg = "outdeg" if join_on == "src" else "indeg"
            raw = (
                e.join(side, F.col(join_on) == F.col("jn"))
                .groupBy(F.col(out_key).alias("node"))
                .agg(F.sum("v").cast("long").alias("raw"))
            )
            tot = state.agg(
                F.sum(F.col(from_col) * F.col(deg)).cast("long").alias("tot")
            )
            keep = "auth" if to_col == "hub" else "hub"
            return (
                state.join(raw, "node", "left")
                .crossJoin(F.broadcast(tot))
                .select(
                    "node",
                    "outdeg",
                    "indeg",
                    F.col(keep),
                    F.expr(f"(coalesce(raw, 0) * {scale}) div nullif(tot, 0)")
                    .cast("long")
                    .alias(to_col),
                )
                .select("node", "outdeg", "indeg", "hub", "auth")
            )

    for it in range(n_iter):
        # checkpoint EVERY half-step: the next half re-reads the state
        # frame several times, so an unmaterialized state would replay
        # its whole subtree once per consumer — progressively deeper
        # each round (quadratic replay). Each checkpoint pins a
        # |V|-row sliver and runs the half's work exactly once. r14:
        # LAZY checkpoints — the materialization happens inside the
        # next consumer's first job (the following half's broadcast
        # build) instead of a dedicated driver-synchronized job per
        # half-step; replay protection after first use is identical.
        state = _half(state, "hub", "src", "auth").localCheckpoint(eager=False)
        hub_half = _half(state, "auth", "dst", "hub")
        if it + 1 < n_iter:
            hub_half = hub_half.localCheckpoint(eager=False)
        state = hub_half
    return state.select(
        "node", F.col("hub").alias("hub_fp"), F.col("auth").alias("auth_fp")
    )


@register(
    "graph_hits_copurchase",
    f"""
    WITH RECURSIVE
    bought AS (
      SELECT DISTINCT o.o_custkey AS cust,
                      l.l_partkey + 10000000 AS part
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (SELECT cust AS src, part AS dst FROM bought),
    -- DISTINCT over UNION ALL, not bare UNION: inside WITH RECURSIVE
    -- DuckDB gives UNION recursive-union semantics even in a
    -- non-self-referencing CTE and skips the dedup
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
    ),
    consts AS (SELECT COUNT(*) AS n FROM nodes),
    hits (r, node, hub, auth) AS (
      SELECT 0, node, {HITS_SCALE} // (SELECT n FROM consts),
             CAST(0 AS BIGINT)
      FROM nodes
      UNION ALL
      SELECT p.r + 1, p.node,
             CASE WHEN p.r % 2 = 0 THEN p.hub
                  ELSE CAST((COALESCE(
                         (SELECT SUM(x.auth)
                          FROM edges e JOIN hits x
                            ON x.node = e.dst AND x.r = p.r
                          WHERE e.src = p.node), 0) * {HITS_SCALE})
                       // NULLIF(
                         (SELECT SUM(x2.auth)
                          FROM edges e2 JOIN hits x2
                            ON x2.node = e2.dst AND x2.r = p.r), 0)
                       AS BIGINT) END,
             CASE WHEN p.r % 2 = 0
                  THEN CAST((COALESCE(
                         (SELECT SUM(x.hub)
                          FROM edges e JOIN hits x
                            ON x.node = e.src AND x.r = p.r
                          WHERE e.dst = p.node), 0) * {HITS_SCALE})
                       // NULLIF(
                         (SELECT SUM(x2.hub)
                          FROM edges e2 JOIN hits x2
                            ON x2.node = e2.src AND x2.r = p.r), 0)
                       AS BIGINT)
                  ELSE p.auth END
      FROM hits p
      WHERE p.r < {2 * HITS_ITERS}
    )
    SELECT node, hub AS hub_fp, auth AS auth_fp
    FROM hits WHERE r = {2 * HITS_ITERS}
    """,
)
def graph_hits_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS on the DIRECTED customer→part purchase graph: heavy
    diversified buyers surface as hubs, parts bought by strong hubs as
    authorities — the bipartite ranking that degree counts miss
    (a part bought by many weak buyers scores below one bought by a
    few strong hubs). Fixed-point integer half-steps with L1
    normalization, replayed bit-for-bit by the half-step recursive
    CTE (even r updates auth from hub, odd r updates hub from auth;
    the normalization total on the CTE side is the edge-sum identity
    Σ_j raw(j) = Σ_edges hub(src)). Monotone-alignment and mass
    invariants pinned in tests/test_graph.py."""
    edges = _purchase_edges(spark, sf_dir, both_ways=False)
    return hits_fixed(edges, assume_distinct=True)


# Driver-side squaring gate: above this channel cardinality the
# scenario-keyed matrix stays distributed (collect size grows as
# (c+1)(c+3)^2 doubles; 64 keeps it under ~300k entries / few MB).
MARKOV_DRIVER_SQUARING_MAX_CHANNELS = 64

# output schema shared by the driver-side and distributed tails —
# column names, order, and types must stay identical across the gate
_MARKOV_OUT_SCHEMA = (
    "channel string, touches long, p_conv_full double, "
    "p_conv_removed double, removal_effect double, "
    "credit_share double, attributed_conversions double"
)


def _journey_frames(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    conv_type: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(counts, touches, fp)`` — the journey decomposition shared by
    :func:`markov_attribution` and :func:`markov_removal_p4`:
    ``counts`` is the (src, dst, cnt) transition table over channels +
    START/CONV/NULL, ``touches`` the pre-first-purchase touch rows
    (checkpointed — multiple consumers), ``fp`` each converted user's
    first-purchase key (persisted — four consumers downstream)."""
    evs = events.where(
        F.col(user_col).isNotNull() & F.col(type_col).isNotNull()
    ).select(
        F.col(user_col).alias("user"),
        F.col(ts_col).alias("ts"),
        F.col(type_col).alias("etype"),
        F.col("event_id"),
    )
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    fp = (
        evs.where(F.col("etype") == conv_type)
        .groupBy("user")
        .agg(F.min(order_key).alias("fp_key"))
        .persist()
    )
    j = evs.join(fp, "user", "left")
    # lazy checkpoint (r14): materializes inside the first consumer's
    # job; later consumers (per_user, terminals, tc) read the cache —
    # one fewer driver-synchronized job, identical replay protection.
    # Deterministic subtree (filter over a join), so concurrent first
    # computation is safe.
    touches = j.where(
        (F.col("etype") != conv_type)
        & (F.col("fp_key").isNull() | (order_key < F.col("fp_key")))
    ).localCheckpoint(eager=False)

    w = Window.partitionBy("user").orderBy("ts", "event_id")
    trans_mid = touches.select(
        F.coalesce(F.lag("etype").over(w), F.lit("START")).alias("src"),
        F.col("etype").alias("dst"),
    )
    per_user = touches.groupBy("user").agg(
        F.max_by("etype", order_key).alias("last_type")
    )
    # terminal step per user with touches; converted users with zero
    # touches contribute a direct START→CONV edge
    terminals = per_user.join(fp, "user", "left").select(
        F.col("last_type").alias("src"),
        F.when(F.col("fp_key").isNotNull(), F.lit("CONV"))
        .otherwise(F.lit("NULL"))
        .alias("dst"),
    )
    direct = (
        fp.join(per_user, "user", "left_anti")
        .select(F.lit("START").alias("src"), F.lit("CONV").alias("dst"))
    )
    counts = (
        trans_mid.unionByName(terminals)
        .unionByName(direct)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts, touches, fp


def markov_attribution(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    conv_type: str = "purchase",
    n_squarings: int = 8,
) -> DataFrame:
    """Markov-chain multi-touch attribution by removal effect — the
    data-driven alternative to position rules (attribution_position_
    credit): model journeys as a first-order chain over channels with
    absorbing CONV/NULL states; a channel's credit is how much total
    conversion probability disappears when that channel's node is
    removed (its inbound transitions re-routed to NULL, its outbound
    dropped — the standard removal-effect construction).

    Physical strategy: journeys/transition counts are ordinary
    partitioned window + hash-agg work; the chain itself is
    CONSTANT-SIZED (|channels|+3 states), so absorption probabilities
    for ALL scenarios (full + one per removed channel) come from
    repeated SQUARING of one scenario-keyed transition matrix —
    P^(2^k) after k tiny self-joins, transient mass decays to ~0 at
    machine precision with k=8 (vs ~2^8 linear power iterations).
    Everything stays in DataFrames; the driver holds only loop
    control, same discipline as :func:`pagerank`.
    """
    counts, touches, fp = _journey_frames(
        events, user_col, ts_col, type_col, conv_type
    )
    totals = counts.groupBy("src").agg(F.sum("cnt").alias("tot"))
    # lazy checkpoint (r14): first consumer (the channels collect)
    # materializes it; the probs.collect() below reads the cache
    probs = counts.join(totals, "src").select(
        "src", "dst", (F.col("cnt").cast("double") / F.col("tot").cast("double")).alias("p")
    ).localCheckpoint(eager=False)

    spark = events.sparkSession
    channels = [
        r.src for r in probs.select("src").distinct().collect() if r.src != "START"
    ]  # channel-cardinality-bounded metadata fetch (|event types|)

    if len(channels) <= MARKOV_DRIVER_SQUARING_MAX_CHANNELS:
        # EVERYTHING downstream of ``probs`` is constant-size — the
        # chain has |channels|+3 states, the per-channel credit table
        # |channels| rows — so under the gate the whole tail runs
        # driver-side off ONE bounded collect of probs (≤ (c+2)(c+3)
        # rows) + the per-channel touch counts (≤ c rows) + the
        # 1-row fp count. r8 measured the distributed squaring at
        # ~2.5 s of pure scheduling for microseconds of matmul; r10
        # extends the same argument to the scenario build and the
        # credit frame: 4 channels at sf0.1 spent ~1 s of job launches
        # assembling ≤10-row frames. The distributed loop below
        # remains the path for super-gate channel vocabularies.
        import numpy as np

        rows = probs.collect()
        states = sorted(
            {r.src for r in rows} | {r.dst for r in rows} | {"CONV", "NULL"}
        )
        idx = {s: i for i, s in enumerate(states)}
        base = np.zeros((len(states), len(states)))
        for r in rows:
            base[idx[r.src], idx[r.dst]] += r.p
        i_start, i_conv, i_null = idx.get("START"), idx["CONV"], idx["NULL"]

        def absorb(q: Any) -> float:
            for _ in range(n_squarings):
                q = q @ q
            return float(q[i_start, i_conv]) if i_start is not None else 0.0

        # removal per scenario: re-route the channel's in-edges to
        # NULL, drop its out-edges, add the absorbing CONV/NULL loops
        # (mass into a removed channel is lost to NULL — no
        # renormalization, per the standard removal-effect
        # definition). Same value chain as the former scenario-keyed
        # groupBy-sum: the re-route adds the same two doubles, and
        # zeroing the dropped row/column mirrors the row filter.
        p_conv: dict[str, float] = {}
        full_m = base.copy()
        full_m[i_conv, i_conv] += 1.0
        full_m[i_null, i_null] += 1.0
        v = absorb(full_m)
        if v != 0.0:  # sparse semantics — see the no-conversion note
            p_conv["full"] = v
        for c in channels:
            q = base.copy()
            ic = idx[c]
            q[:, i_null] += q[:, ic]
            q[:, ic] = 0.0
            q[ic, :] = 0.0
            q[i_conv, i_conv] += 1.0
            q[i_null, i_null] += 1.0
            v = absorb(q)
            if v != 0.0:
                p_conv[c] = v
        if "full" not in p_conv:
            # zero-conversion chain: the distributed tail crossJoins
            # an EMPTY `full` frame and returns no rows — mirror it
            # (an explicit 0.0 would feed 1 - x/0.0 = NaN everywhere)
            return spark.createDataFrame([], _MARKOV_OUT_SCHEMA)
        p_full = p_conv["full"]
        touch_counts = {
            r.channel: r.touches
            for r in touches.groupBy(F.col("etype").alias("channel"))
            .agg(F.count(F.lit(1)).alias("touches"))
            .collect()
        }  # ≤ |channels| rows — gate-bounded
        n_conversions = fp.count()
        effects = {
            c: max(0.0, 1.0 - p_conv.get(c, 0.0) / p_full) for c in channels
        }
        re_sum = sum(effects.values())
        out_rows = []
        for c in channels:
            share = (
                effects[c] / re_sum if re_sum != 0.0 else float("nan")
            )  # Spark doubles give NaN on 0/0 — keep the same contract
            out_rows.append(
                (
                    c,
                    int(touch_counts.get(c, 0)),
                    p_full,
                    p_conv.get(c, 0.0),
                    effects[c],
                    share,
                    share * float(n_conversions),
                )
            )
        return spark.createDataFrame(out_rows, _MARKOV_OUT_SCHEMA)

    scenarios = spark.createDataFrame(
        [("full",)] + [(c,) for c in channels], "scenario string"
    )
    # removal: drop the channel's out-edges, re-route its in-edges to
    # NULL; other rows keep their original probabilities (mass into a
    # removed channel is lost to NULL — no renormalization, per the
    # standard removal-effect definition)
    redirected = (
        probs.crossJoin(F.broadcast(scenarios))
        .where((F.col("scenario") == "full") | (F.col("src") != F.col("scenario")))
        .select(
            "scenario",
            "src",
            F.when(
                (F.col("scenario") != "full") & (F.col("dst") == F.col("scenario")),
                F.lit("NULL"),
            )
            .otherwise(F.col("dst"))
            .alias("dst"),
            "p",
        )
        .groupBy("scenario", "src", "dst")
        .agg(F.sum("p").alias("p"))
    )
    # one literal LocalRelation, NOT scenarios.crossJoin(states): both
    # sides are driver-known lists, and a crossJoin of two
    # LocalRelations fans out to parallelism² tiny tasks — measured
    # 10.3 s to materialize 10 rows on local[32] (82% of this
    # operator's bench wall) vs ~0 for the literal
    loops = spark.createDataFrame(
        [
            (s, st, st, 1.0)
            for s in ["full"] + channels
            for st in ("CONV", "NULL")
        ],
        "scenario string, src string, dst string, p double",
    )
    m = redirected.unionByName(loops).localCheckpoint(eager=True)
    for _ in range(n_squarings):
        a, b = m.alias("a"), m.alias("b")
        m = (
            a.join(
                b,
                (F.col("a.scenario") == F.col("b.scenario"))
                & (F.col("a.dst") == F.col("b.src")),
            )
            .groupBy(
                F.col("a.scenario").alias("scenario"),
                F.col("a.src").alias("src"),
                F.col("b.dst").alias("dst"),
            )
            .agg(F.sum(F.col("a.p") * F.col("b.p")).alias("p"))
            # double self-reference: the plan doubles per round, so
            # lineage must truncate every iteration (cf. pagerank's
            # adaptive cadence note)
            .localCheckpoint(eager=True)
        )
    p_conv = m.where(
        (F.col("src") == "START") & (F.col("dst") == "CONV")
    ).select("scenario", F.col("p").alias("p_conv"))
    full = p_conv.where(F.col("scenario") == "full").select(
        F.col("p_conv").alias("p_conv_full")
    )
    n_conv = fp.agg(F.count(F.lit(1)).alias("n_conversions"))
    touch_counts = touches.groupBy(F.col("etype").alias("channel")).agg(
        F.count(F.lit(1)).alias("touches")
    )
    per_channel = (
        scenarios.where(F.col("scenario") != "full")
        .join(p_conv, "scenario", "left")
        .select(
            F.col("scenario").alias("channel"),
            F.coalesce("p_conv", F.lit(0.0)).alias("p_conv_removed"),
        )
        .crossJoin(F.broadcast(full))
        .select(
            "channel",
            "p_conv_full",
            "p_conv_removed",
            F.greatest(
                F.lit(0.0),
                F.lit(1.0) - F.col("p_conv_removed") / F.col("p_conv_full"),
            ).alias("removal_effect"),
        )
    )
    re_tot = per_channel.agg(F.sum("removal_effect").alias("re_sum"))
    return (
        per_channel.join(touch_counts, "channel", "left")
        .crossJoin(F.broadcast(re_tot))
        .crossJoin(F.broadcast(n_conv))
        .select(
            "channel",
            F.coalesce("touches", F.lit(0).cast("long")).alias("touches"),
            "p_conv_full",
            "p_conv_removed",
            "removal_effect",
            (F.col("removal_effect") / F.col("re_sum")).alias("credit_share"),
            (
                F.col("removal_effect") / F.col("re_sum")
                * F.col("n_conversions").cast("double")
            ).alias("attributed_conversions"),
        )
    )


@register("events_markov_attribution", None)  # iterative — rows-only
def events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Removal-effect Markov attribution over user journeys (touches
    up to each user's first purchase; purchase absorbs to CONV,
    journey abandonment to NULL). Rows-only (iterative matrix
    squaring has no single-SQL oracle); every number is compared to a
    numpy fundamental-matrix solve in tests/test_stattests.py."""
    e = load_table(spark, sf_dir, "events")
    return markov_attribution(e)


MARKOV_P4_SCALE = 10**6  # fixed-point units per 1.0 of probability


def markov_removal_p4(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    conv_type: str = "purchase",
    scale: int = MARKOV_P4_SCALE,
) -> DataFrame:
    """Bounded-power fixed-point twin of :func:`markov_attribution` —
    the hash tier (the ``similarity_ivf_fixed_topk`` precedent: frozen
    variant = oracle-checkable entry). Same journey decomposition,
    same scenario-keyed removal construction (in-edges re-routed to
    NULL, out-edges dropped, absorbing CONV/NULL self-loops), but the
    transition matrix is FIXED-POINT BIGINT (units of 1/scale) and the
    horizon is exactly P^4 via two integer squarings — every value is
    an integer pure function of the events table, so a second SQL
    engine replays it bit-for-bit. P^4 covers journeys of up to four
    transitions (START→a→b→c→CONV and shorter), which at the fixture
    journey-length distribution carries the bulk of conversion mass;
    the float tier owns the asymptotic (P^256) absorption numbers.

    Scale shape: journeys/counts are the shared window + hash-agg
    pass; everything after ``p`` is constant-sized ((c+3)^2 rows per
    scenario, c+1 scenarios) — the squaring self-joins shuffle only
    matrix slivers, never data-sized frames."""
    counts, touches, _fp = _journey_frames(
        events, user_col, ts_col, type_col, conv_type
    )
    totals = counts.groupBy("src").agg(F.sum("cnt").alias("tot"))
    p = counts.join(totals, "src").select(
        "src",
        "dst",
        F.expr(f"(cnt * {scale}) div tot").cast("long").alias("v"),
    )
    spark = events.sparkSession
    tc = touches.groupBy(F.col("etype").alias("channel")).agg(
        F.count(F.lit(1)).alias("touches")
    )

    # r14: gated DRIVER tail — the markov_attribution precedent
    # (graph.py:989) extended to the hash tier. Everything downstream
    # of ``p`` is constant-size ((c+3)² entries × (c+1) scenarios),
    # yet the distributed squaring spent ~40 micro-jobs of pure
    # scheduling per run (55 jobs, most 1-task, assembling sub-KB
    # frames — the per-entry job count the bench sidecar
    # BENCH_DETAIL.json records). Below the channel gate the whole
    # tail runs off ONE bounded fetch of p (≤ (c+2)(c+3) rows), in
    # exact Python ints replicating the DataFrame semantics
    # join-for-join: sparse entries exist iff the join matched (v=0
    # rows included), `div` ≡ `//` on the non-negative values, SQL
    # NULL ≡ None (CASE WHEN full>0, SUM-skips-NULLs, nullif(·,0)).
    # The distributed loop below remains the super-gate path.
    _c = MARKOV_DRIVER_SQUARING_MAX_CHANNELS
    _limit = (_c + 2) * (_c + 3)
    # ONE evaluation of the counts→totals→p subtree for BOTH tiers
    # (r15 ADVICE fix): checkpoint p eagerly, then the gate probe
    # reads the materialized blocks and the distributed fallback
    # reuses them — previously take() evaluated the subtree and the
    # fallback's own eager checkpoint recomputed it, one redundant
    # full pass on exactly the path meant for large inputs.
    p = p.localCheckpoint(eager=True)
    p_rows = p.take(_limit + 1)
    chans = sorted({r["src"] for r in p_rows if r["src"] != "START"})
    if len(p_rows) <= _limit and len(chans) <= _c:
        p_entries = [(r["src"], r["dst"], int(r["v"])) for r in p_rows]

        def _square(m: dict[tuple[str, str], int]) -> dict[tuple[str, str], int]:
            byk: dict[str, list[tuple[str, int]]] = {}
            for (k, j), v in m.items():
                byk.setdefault(k, []).append((j, v))
            acc: dict[tuple[str, str], int] = {}
            for (i, k), v in m.items():
                for j, w in byk.get(k, ()):
                    acc[(i, j)] = acc.get((i, j), 0) + v * w
            return {key: val // scale for key, val in acc.items()}

        p4_by_scen: dict[str, int] = {}  # key present iff the row exists
        # dict.fromkeys: a channel literally named 'full' must yield
        # ONE 'full' scenario (the full matrix), matching the
        # DISTINCT-deduplicated scenario set of the distributed tier
        # and the oracle (r15 ADVICE fix — the duplicate scenario row
        # doubled every 'full' matrix entry in the distributed path)
        for scen_name in dict.fromkeys(chans + ["full"]):
            m: dict[tuple[str, str], int] = {}
            for i, j, v in p_entries:
                if scen_name != "full" and i == scen_name:
                    continue
                jj = "NULL" if (scen_name != "full" and j == scen_name) else j
                m[(i, jj)] = m.get((i, jj), 0) + v
            for s in ("CONV", "NULL"):
                m[(s, s)] = m.get((s, s), 0) + scale
            q4_d = _square(_square(m))
            if ("START", "CONV") in q4_d:
                p4_by_scen[scen_name] = q4_d[("START", "CONV")]

        full_v = p4_by_scen.get("full")  # None ≡ SQL NULL (MAX over ∅)
        out_rows: list[tuple] = []
        effs: dict[str, int | None] = {}
        for c in chans:
            removed = p4_by_scen.get(c, 0)
            if full_v is not None and full_v > 0:
                effs[c] = max(0, scale - (removed * scale) // full_v)
            else:
                effs[c] = None
        nonnull = [e for e in effs.values() if e is not None]
        eff_sum = sum(nonnull) if nonnull else None  # SUM skips NULLs; ∅→NULL
        for c in chans:
            e = effs[c]
            credit = (
                (e * scale) // eff_sum
                if (e is not None and eff_sum is not None and eff_sum != 0)
                else None
            )
            out_rows.append((c, full_v, p4_by_scen.get(c, 0), e, credit))
        eff_df = spark.createDataFrame(
            out_rows,
            "channel STRING, p4_full_fp BIGINT, p4_removed_fp BIGINT,"
            " removal_effect_fp BIGINT, credit_share_fp BIGINT",
        )
        return eff_df.join(tc, "channel", "left").select(
            "channel",
            F.coalesce("touches", F.lit(0).cast("long")).alias("touches"),
            "p4_full_fp",
            "p4_removed_fp",
            "removal_effect_fp",
            "credit_share_fp",
        )

    channels = (
        p.where(F.col("src") != "START")
        .select(F.col("src").alias("scenario"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # distinct: a channel literally named 'full' must not produce a
    # SECOND 'full' scenario row — the crossJoin+groupBy-sum would
    # double every 'full'-scenario matrix entry (and the absorbing
    # +scale loops), diverging from the driver tail (r15 ADVICE fix;
    # the oracle deduplicates identically via UNION)
    scen = channels.unionByName(
        spark.range(1).select(F.lit("full").alias("scenario"))
    ).distinct()
    # scenario-keyed removal matrices: for scenario c, drop c's rows
    # and re-route …→c into …→NULL; 'full' keeps p verbatim; absorbing
    # self-loops enter as explicit +scale rows folded by the groupBy
    base = (
        p.crossJoin(F.broadcast(scen))
        .where(
            (F.col("scenario") == "full") | (F.col("src") != F.col("scenario"))
        )
        .select(
            "scenario",
            F.col("src").alias("i"),
            F.when(
                (F.col("scenario") != "full")
                & (F.col("dst") == F.col("scenario")),
                F.lit("NULL"),
            )
            .otherwise(F.col("dst"))
            .alias("j"),
            "v",
        )
    )
    loops = scen.select(
        "scenario",
        F.explode(F.array(F.lit("CONV"), F.lit("NULL"))).alias("i"),
    ).select("scenario", "i", F.col("i").alias("j"), F.lit(scale).cast("long").alias("v"))
    m = (
        base.unionByName(loops)
        .groupBy("scenario", "i", "j")
        .agg(F.sum("v").cast("long").alias("v"))
    )

    def square(a: DataFrame) -> DataFrame:
        # (A²)[i,j] = (Σ_k A[i,k]·A[k,j]) div scale — integer matmul
        # over the scenario-keyed sliver; BIGINT-safe: entries ≤ scale
        # (row mass only shrinks under floors), so each product ≤
        # scale² = 10^12 and the ≤(c+3)-term sum stays ≪ 2^63
        x, y = a.alias("x"), a.alias("y")
        return (
            x.join(
                y,
                (F.col("x.scenario") == F.col("y.scenario"))
                & (F.col("x.j") == F.col("y.i")),
            )
            .groupBy(
                F.col("x.scenario").alias("scenario"),
                F.col("x.i").alias("i"),
                F.col("y.j").alias("j"),
            )
            .agg(F.expr(f"sum(x.v * y.v) div {scale}").cast("long").alias("v"))
        )

    q4 = square(square(m))
    p4 = q4.where((F.col("i") == "START") & (F.col("j") == "CONV")).select(
        "scenario", "v"
    )
    # 1-row aggregate (NULL when no 'full' mass) so the zero-conversion
    # case emits channel rows with NULL effects on BOTH engines
    fullv = p4.where(F.col("scenario") == "full").agg(
        F.max("v").alias("p4_full_fp")
    )
    eff = (
        channels.join(p4, "scenario", "left")
        .crossJoin(F.broadcast(fullv))
        .select(
            F.col("scenario").alias("channel"),
            F.coalesce("v", F.lit(0)).cast("long").alias("p4_removed_fp"),
            "p4_full_fp",
        )
        .withColumn(
            "removal_effect_fp",
            F.when(
                F.col("p4_full_fp") > 0,
                F.greatest(
                    F.lit(0).cast("long"),
                    (
                        F.lit(scale)
                        - F.expr(f"(p4_removed_fp * {scale}) div p4_full_fp")
                    ).cast("long"),
                ),
            ),
        )
    )
    tot_eff = eff.agg(F.sum("removal_effect_fp").cast("long").alias("eff_sum"))
    return (
        eff.crossJoin(F.broadcast(tot_eff))
        .join(tc, "channel", "left")
        .select(
            "channel",
            F.coalesce("touches", F.lit(0).cast("long")).alias("touches"),
            "p4_full_fp",
            "p4_removed_fp",
            "removal_effect_fp",
            F.expr(f"(removal_effect_fp * {scale}) div nullif(eff_sum, 0)")
            .cast("long")
            .alias("credit_share_fp"),
        )
    )


@register(
    "events_markov_removal_p4",
    f"""
    WITH
    evs AS (
      SELECT user_id AS u, ts, event_id, event_type AS et
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    fp AS (
      SELECT u, ts AS fp_ts, event_id AS fp_eid
      FROM (SELECT u, ts, event_id,
                   ROW_NUMBER() OVER (PARTITION BY u ORDER BY ts, event_id)
                     AS rn
            FROM evs WHERE et = 'purchase')
      WHERE rn = 1
    ),
    touches AS (
      SELECT e.u, e.ts, e.event_id, e.et
      FROM evs e LEFT JOIN fp ON e.u = fp.u
      WHERE e.et <> 'purchase'
        AND (fp.u IS NULL OR e.ts < fp.fp_ts
             OR (e.ts = fp.fp_ts AND e.event_id < fp.fp_eid))
    ),
    trans_mid AS (
      SELECT COALESCE(LAG(et) OVER (PARTITION BY u ORDER BY ts, event_id),
                      'START') AS src,
             et AS dst
      FROM touches
    ),
    last_touch AS (
      SELECT u, et AS last_type
      FROM (SELECT u, et,
                   ROW_NUMBER() OVER (PARTITION BY u
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM touches)
      WHERE rn = 1
    ),
    terminals AS (
      SELECT lt.last_type AS src,
             CASE WHEN fp.u IS NOT NULL THEN 'CONV' ELSE 'NULL' END AS dst
      FROM last_touch lt LEFT JOIN fp ON lt.u = fp.u
    ),
    direct AS (
      SELECT 'START' AS src, 'CONV' AS dst
      FROM fp WHERE u NOT IN (SELECT u FROM last_touch)
    ),
    counts AS (
      SELECT src, dst, COUNT(*) AS cnt
      FROM (SELECT * FROM trans_mid
            UNION ALL SELECT * FROM terminals
            UNION ALL SELECT * FROM direct)
      GROUP BY src, dst
    ),
    p AS (
      SELECT c.src, c.dst, (c.cnt * {MARKOV_P4_SCALE}) // t.tot AS v
      FROM counts c
      JOIN (SELECT src, SUM(cnt) AS tot FROM counts GROUP BY src) t
        USING (src)
    ),
    channels AS (SELECT DISTINCT src AS scenario FROM p WHERE src <> 'START'),
    -- UNION (not ALL): a channel literally named 'full' must not
    -- produce a second 'full' scenario row (mirrors the Spark side)
    scen AS (SELECT scenario FROM channels UNION SELECT 'full'),
    m AS (
      SELECT scenario, i, j, SUM(v) AS v FROM (
        SELECT s.scenario, p.src AS i,
               CASE WHEN s.scenario <> 'full' AND p.dst = s.scenario
                    THEN 'NULL' ELSE p.dst END AS j,
               p.v
        FROM p CROSS JOIN scen s
        WHERE s.scenario = 'full' OR p.src <> s.scenario
        UNION ALL
        SELECT scenario, 'CONV', 'CONV', {MARKOV_P4_SCALE} FROM scen
        UNION ALL
        SELECT scenario, 'NULL', 'NULL', {MARKOV_P4_SCALE} FROM scen
      ) GROUP BY scenario, i, j
    ),
    q2 AS (
      SELECT a.scenario, a.i, b.j, SUM(a.v * b.v) // {MARKOV_P4_SCALE} AS v
      FROM m a JOIN m b ON a.scenario = b.scenario AND a.j = b.i
      GROUP BY a.scenario, a.i, b.j
    ),
    q4 AS (
      SELECT a.scenario, a.i, b.j, SUM(a.v * b.v) // {MARKOV_P4_SCALE} AS v
      FROM q2 a JOIN q2 b ON a.scenario = b.scenario AND a.j = b.i
      GROUP BY a.scenario, a.i, b.j
    ),
    p4 AS (SELECT scenario, v FROM q4 WHERE i = 'START' AND j = 'CONV'),
    fullv AS (SELECT MAX(v) AS p4_full_fp FROM p4 WHERE scenario = 'full'),
    eff AS (
      SELECT c.scenario AS channel,
             COALESCE(p4.v, 0) AS p4_removed_fp,
             f.p4_full_fp,
             CASE WHEN f.p4_full_fp > 0
                  THEN GREATEST(0, {MARKOV_P4_SCALE}
                       - (COALESCE(p4.v, 0) * {MARKOV_P4_SCALE})
                         // f.p4_full_fp)
             END AS removal_effect_fp
      FROM channels c
      LEFT JOIN p4 ON p4.scenario = c.scenario
      CROSS JOIN fullv f
    ),
    tc AS (SELECT et AS channel, COUNT(*) AS touches FROM touches GROUP BY et)
    SELECT e.channel,
           CAST(COALESCE(tc.touches, 0) AS BIGINT) AS touches,
           CAST(e.p4_full_fp AS BIGINT) AS p4_full_fp,
           CAST(e.p4_removed_fp AS BIGINT) AS p4_removed_fp,
           CAST(e.removal_effect_fp AS BIGINT) AS removal_effect_fp,
           CAST((e.removal_effect_fp * {MARKOV_P4_SCALE})
                // NULLIF((SELECT SUM(removal_effect_fp) FROM eff), 0)
                AS BIGINT) AS credit_share_fp
    FROM eff e LEFT JOIN tc USING (channel)
    """,
)
def events_markov_removal_p4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point bounded-power Markov removal effect over the events
    journeys — the HASH-ORACLE tier of ``events_markov_attribution``
    (r10 verdict item 3): the scenario build (re-route inbound to
    NULL, drop outbound, absorbing self-loops) and two integer matrix
    squarings replayed as plain CTEs on both engines. Covers the
    removal-effect semantics the float entry's numpy parity pytest
    previously owned alone."""
    e = load_table(spark, sf_dir, "events")
    return markov_removal_p4(e)


LPA_BROADCAST_MAX_NODES = 2_000_000  # same regime as the rank gate


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    assume_distinct: bool = False,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al.) — the classic
    community-detection baseline, deterministic variant: every node
    starts as its own label; each round it adopts the label held by
    the plurality of its neighbors, ties broken toward the SMALLEST
    label (no RNG, no async sweep order — the result is a pure
    function of the graph). Fixed round count: synchronous LPA can
    2-cycle on bipartite-ish structure, so a fixed budget with a
    deterministic tie-break is the reproducible contract (the pytest
    pins exact parity with a pure-Python sweep, not just modularity).

    Scale shape per round: one neighbor-label join + one (node, label)
    count aggregation + one per-node argmax — all hash-partitioned on
    node ids, O(|E|) rows; label state is O(|V|) and broadcasts below
    the same measured-|V| gate as pagerank (hash join above). Single
    self-reference per round → linear plan growth → checkpoint every 3
    (the pagerank cadence note)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    # undirected sweep: both directions once, then the frame is fixed
    und = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    nodes = (
        und.select(F.col("src").alias("node")).distinct().localCheckpoint(eager=True)
    )
    n = nodes.count()
    broadcast_labels = n <= _state_broadcast_gate(edges, LPA_BROADCAST_MAX_NODES)
    und = und.repartition("dst" if broadcast_labels else "src").persist()
    labels = nodes.select("node", F.col("node").alias("label"))
    for it in range(n_iter):
        lab = labels.select(
            F.col("node").alias("src_node"), F.col("label").alias("nbr_label")
        )
        joined = (
            und.join(F.broadcast(lab), und.src == F.col("src_node"))
            if broadcast_labels
            else und.join(lab, und.src == F.col("src_node"))
        )
        counted = (
            joined.select(F.col("dst").alias("node"), "nbr_label")
            .groupBy("node", "nbr_label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # plurality with ties to the smallest label: max of
        # (cnt, -label) picks the highest count, then the most
        # NEGATIVE -label = the smallest label
        labels = counted.groupBy("node").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("nbr_label")).alias("neg")))
            .getField("neg")
            .alias("neg_label")
        ).select("node", (-F.col("neg_label")).alias("label"))
        if (it + 1) % 3 == 0 and it + 1 < n_iter:
            # lazy (r15): same plan-growth truncation, but the
            # materialization happens inside the next round's join job
            # instead of a dedicated eager checkpoint job (the r14
            # pagerank/HITS loop-checkpoint discipline)
            labels = labels.localCheckpoint(eager=False)
    return labels


LPA_ROUNDS = 5  # fixed synchronous budget — what makes the loop oracle-able


# Shared LPA oracle CTE chain (through the recursive `lab` table) —
# also consumed by graph_modularity so the community assignment SQL
# cannot drift between the detector and its quality metric.
_LPA_CTES = f"""pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (
      SELECT u AS a, v AS b FROM pairs
      UNION ALL
      SELECT v AS a, u AS b FROM pairs
    ),
    lab (r, node, label) AS (
      SELECT 0, a, a FROM und GROUP BY a
      UNION ALL
      SELECT l.r + 1, l.node,
        (SELECT nl.nbr_label
         FROM (SELECT x.label AS nbr_label, COUNT(*) AS cnt
               FROM und e JOIN lab x ON x.node = e.b AND x.r = l.r
               WHERE e.a = l.node
               GROUP BY x.label) nl
         ORDER BY nl.cnt DESC, nl.nbr_label ASC
         LIMIT 1)
      FROM lab l
      WHERE l.r < {LPA_ROUNDS}
    )"""


@register(
    "graph_label_propagation",
    f"""
    WITH RECURSIVE
    {_LPA_CTES}
    SELECT f.node AS part, f.label AS label,
           CAST(s.cnt AS BIGINT) AS community_size
    FROM (SELECT node, label FROM lab WHERE r = {LPA_ROUNDS}) f
    JOIN (SELECT label, COUNT(*) AS cnt
          FROM lab WHERE r = {LPA_ROUNDS} GROUP BY label) s USING (label)
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the part co-occurrence graph (parts
    co-bought in one order): 5 synchronous LPA rounds, smallest-label
    tie-break, emitting (part, community label, community size).

    Full hash oracle (the r9 kcore conversion pattern extended to
    REPLACEMENT-style state): per-round state is integer (node,
    label); the plurality-with-smallest-label argmax is a correlated
    ORDER BY cnt DESC, label ASC LIMIT 1 in the DuckDB recursive
    CTE's working table — the same deterministic tie-break as the
    Spark side's max(struct(cnt, -label)). A fixed round budget is
    what makes the sweep replayable on both engines; exact per-node
    parity with a pure-Python synchronous sweep is additionally
    pinned in tests/test_graph_queries.py."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
    )
    labels = label_propagation(edges, n_iter=LPA_ROUNDS, assume_distinct=True).persist()
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("community_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("part"), "label", "community_size"
    )


@register(
    "graph_modularity",
    f"""
    WITH RECURSIVE
    {_LPA_CTES},
    final AS (SELECT node, label FROM lab WHERE r = {LPA_ROUNDS}),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
    deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM und GROUP BY a),
    internal AS (
      SELECT fa.label, CAST(COUNT(*) AS BIGINT) AS internal_pairs
      FROM pairs p
      JOIN final fa ON fa.node = p.u
      JOIN final fb ON fb.node = p.v
      WHERE fa.label = fb.label
      GROUP BY fa.label
    ),
    per_comm AS (
      SELECT f.label,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(g.d) AS BIGINT) AS deg_sum
      FROM final f JOIN deg g ON g.node = f.node
      GROUP BY f.label
    )
    SELECT c.label, c.n_nodes,
           COALESCE(i.internal_pairs, 0) AS internal_pairs,
           c.deg_sum, mm.m,
           4 * mm.m * COALESCE(i.internal_pairs, 0)
             - c.deg_sum * c.deg_sum AS q_contrib_fp,
           CAST(4 * mm.m * COALESCE(i.internal_pairs, 0)
                - c.deg_sum * c.deg_sum AS DOUBLE)
             / CAST(4 * mm.m * mm.m AS DOUBLE) AS q_contrib
    FROM per_comm c
    LEFT JOIN internal i USING (label)
    CROSS JOIN m mm
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities — the quality metric
    that tells an operator whether the detected communities beat a
    random cut (Q = Σ_c [in_c/m − (deg_c/2m)²]). Computed in EXACT
    integers: per community the scaled contribution
    ``4·m·in_c − deg_c²`` (Q's numerator over the common denominator
    4m²) plus the one-division double — so the whole evaluation
    hash-checks, and the community assignment SQL is the imported LPA
    oracle chain (detector and metric cannot drift).

    Scale: LPA's own iteration cost dominates; the metric adds one
    pair-endpoint label join (hash-partitioned on node), a degree
    aggregation, and community-sized rollups. The m frame is a 1-row
    scalar."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
        .persist()  # feeds LPA, und/deg, and the internal-pair join
    )
    labels = label_propagation(
        edges, n_iter=LPA_ROUNDS, assume_distinct=True
    ).persist()
    und = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionAll(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    m = edges.agg(F.count(F.lit(1)).cast("long").alias("m"))
    internal = (
        edges.join(
            labels.select(F.col("node").alias("src"), F.col("label").alias("la")),
            "src",
        )
        .join(
            labels.select(F.col("node").alias("dst"), F.col("label").alias("lb")),
            "dst",
        )
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("internal_pairs"))
    )
    per_comm = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("deg_sum"),
        )
    )
    out = (
        per_comm.join(internal, "label", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "label",
            "n_nodes",
            F.coalesce(F.col("internal_pairs"), F.lit(0))
            .cast("long")
            .alias("internal_pairs"),
            "deg_sum",
            "m",
            (
                4 * F.col("m") * F.coalesce(F.col("internal_pairs"), F.lit(0))
                - F.col("deg_sum") * F.col("deg_sum")
            )
            .cast("long")
            .alias("q_contrib_fp"),
        )
    )
    return out.withColumn(
        "q_contrib",
        F.col("q_contrib_fp").cast("double")
        / (4 * F.col("m") * F.col("m")).cast("double"),
    )
