"""Duplicate-cluster resolution: connected components over near-dup
pairs.

The dedup tiers (MinHash-LSH, SimHash, Jaccard) emit *pairs*; turning
pairs into deletion decisions needs the transitive closure — if A~B
and B~C, then {A,B,C} is one cluster and one canonical survivor keeps
the rest out of the training set. This is the step between "candidate
pairs" and "deduplicated corpus" in every production pipeline.

Iterative min-label propagation, driver-side loop over DataFrame
steps (the standard Spark shape for iterative graph algorithms; the
per-iteration work is one join + one aggregation, both distributed —
only the convergence counter is a scalar on the driver). Converges in
O(component diameter) rounds; near-dup clusters are shallow (dup
clusters are near-cliques), so 3-5 rounds in practice. For adversarial
long-chain graphs the alternating large-star/small-star variant
(Kiveris et al., "Connected Components in MapReduce") drops this to
O(log n) — same per-round plan shape.

Not SQL-expressible (iteration), so the registry entry is rows-only;
correctness is pinned by tests/test_cluster.py against a union-find
oracle on the same pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``, where
    component = min node id reachable through the pair graph.

    Each round: every node takes the min of its own label and its
    neighbors' labels. Labels only decrease, bounded below by the
    component min — termination is guaranteed; ``max_iter`` is a
    backstop for adversarial chains (see module docstring).
    """
    edges = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    edges = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    # localCheckpoint: iterative algorithms must truncate lineage or
    # the logical plan doubles per round (analysis-time blowup).
    # Pre-partition on the per-round join key and persist (the kcore
    # `und` precedent): every round's edges⋈labels join then reuses
    # this one exchange instead of re-shuffling the O(|E|) edge list
    # per round — only the O(|V|) label side moves each round.
    edges = edges.localCheckpoint(eager=True).repartition("v").persist()
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )

    # labels are checkpointed every round, so the result does not
    # depend on the edge cache: release it on either loop exit
    try:
        for _ in range(max_iter):
            # hop step: take the min of own and neighbors' labels
            nbr_min = (
                edges.join(labels, edges.v == labels.node)
                .groupBy("u")
                .agg(F.min("comp").alias("nbr_comp"))
            )
            # prev rides along so convergence is a column compare on the
            # materialized frame, not a second |V| join against the old
            # labels (r15: one join + one dedicated job fewer per round)
            stepped = labels.join(nbr_min, labels.node == nbr_min.u, "left").select(
                "node",
                F.col("comp").alias("prev"),
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
            )
            # pointer-jump step: comp ← label(comp). Combined with the hop
            # this converges in O(log diameter) rounds instead of
            # O(diameter) — the difference between 5 and 10^5 rounds on a
            # pathological chain.
            jumped = (
                stepped.alias("s")
                .join(
                    labels.select(
                        F.col("node").alias("jnode"), F.col("comp").alias("jcomp")
                    ),
                    F.col("s.comp") == F.col("jnode"),
                    "left",
                )
                .select(
                    F.col("s.node").alias("node"),
                    F.col("s.prev").alias("prev"),
                    F.least(
                        F.col("s.comp"), F.coalesce(F.col("jcomp"), F.col("s.comp"))
                    ).alias("comp"),
                )
                # lazy: the convergence count below is the first action and
                # materializes the checkpoint inside its own job — an eager
                # checkpoint here would add a dedicated per-round job that
                # computes the identical frame (the r14 lazy-checkpoint
                # discipline extended to this loop)
                .localCheckpoint(eager=False)
            )
            # scalar convergence check — an aggregate over the checkpoint
            # being materialized, not a data collect and (since r15) not a
            # join: prev was carried through the step
            changed = jumped.where(F.col("comp") != F.col("prev")).count()
            labels = jumped.select("node", "comp")
            if changed == 0:
                break
        else:
            # exiting via the backstop means labels are NOT a fixpoint —
            # silently returning would hand dup_clusters split clusters
            # (several "canonical" survivors per true cluster) with no
            # signal. Raise so callers can widen max_iter or switch to
            # connected_components_star (O(log n) on adversarial chains).
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                f"({changed} labels still changing); the pair graph has a "
                "pathological diameter — raise max_iter or use "
                "connected_components_star"
            )
    finally:
        edges.unpersist()
    return labels


def _large_star(edges: DataFrame) -> DataFrame:
    """One Large-Star round: every node u links its strictly-larger
    neighbors to m = min(N(u) ∪ {u})."""
    nbrs = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One Small-Star round: orient edges toward the smaller endpoint,
    then every node u links itself and its ≤-neighbors to the min."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))  # m ≤ every v ≤ u
    to_min = oriented.join(mins, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_to_min = mins.select("u", F.col("m").alias("v"))
    return (
        to_min.union(self_to_min)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 40,
) -> DataFrame:
    """Alternating Large-Star/Small-Star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log n) rounds on ANY graph shape, including the adversarial
    long-chain case where min-label propagation needs O(diameter).

    Same output contract as connected_components: (node, comp) with
    comp = min reachable node id. Each round is two groupBy-min +
    join plans, all distributed; convergence is detected with an
    order-insensitive (count, hash-sum) fingerprint of the edge set —
    one scalar aggregate, no edge-set materialization on the driver.
    """
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    all_nodes = (
        edges.select("u")
        .union(edges.select(F.col("v").alias("u")))
        .distinct()
        .select(F.col("u").alias("node"))
        # lazy: consumed exactly once, by the final roots anti-join —
        # materializes inside that job instead of a dedicated one
        .localCheckpoint(eager=False)
    )

    def _fingerprint(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: exact and overflow-proof under ANSI mode
            # (summing raw int64 hashes overflows LongType)
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = None
    for _ in range(max_iter):
        # lazy: the fingerprint aggregate below is the first action and
        # materializes the round's edge set inside its own job (the
        # eager variant ran a dedicated checkpoint job per round that
        # computed the identical frame)
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        fp = _fingerprint(edges)
        if fp == prev:
            break
        prev = fp
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )

    # stable state is a star forest: every edge is (member, root)
    labels = edges.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    roots = all_nodes.join(
        labels.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("comp"))
    return labels.union(roots)


def dup_clusters(pairs: DataFrame) -> DataFrame:
    """Cluster view over near-dup pairs: (doc_id, cluster_id,
    cluster_size, is_canonical). The canonical survivor is the min
    doc_id; dropping ``is_canonical = false`` rows from the corpus is
    the dedup deletion step."""
    cc = connected_components(pairs)
    w_size = F.count(F.lit(1)).over(Window.partitionBy("comp"))
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        w_size.cast("bigint").alias("cluster_size"),
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    )
