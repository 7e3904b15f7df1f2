"""Duplicate-cluster resolution: connected components over near-dup
pairs.

The dedup tiers (MinHash-LSH, SimHash, Jaccard) emit *pairs*; turning
pairs into deletion decisions needs the transitive closure — if A~B
and B~C, then {A,B,C} is one cluster and one canonical survivor keeps
the rest out of the training set. This is the step between "candidate
pairs" and "deduplicated corpus" in every production pipeline.

Iterative min-label propagation with hook and pointer-jump steps,
driver-side loop over DataFrame steps (the standard Spark shape for
iterative graph algorithms; every join, aggregation and window is
distributed — only the convergence counter is a scalar on the
driver). Near-dup clusters are near-cliques and settle in 2-4 rounds;
rounds grow with the log of the component diameter, so long chains
stay within the default round budget (measured bound in
``connected_components``).

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
    neighbors' labels (hop), every node that held the same label takes
    the min any of them reached (hook), then takes the old label of
    its new label (jump). Labels only decrease, bounded below by the
    component min — termination is guaranteed; ``max_iter`` is a
    backstop.

    Rounds measured on 8-partition paths of diameter 300, 3000, 3·10^4
    and 3·10^5: 10, 13, 16, 20 with ordered ids, 8, 12, 14, 17 with
    shuffled ids. At that rate (at most 4 rounds per tenfold), the
    default 25 covers diameters up to about 3·10^5·10^(5/4) ≈ 5·10^6.
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
            # labels (r15: one join + one dedicated job fewer per round).
            # hook step: min over all holders of label c, so the node named c
            # follows its class (a shuffled 300-chain needs >26 rounds without)
            stepped = labels.join(nbr_min, labels.node == nbr_min.u, "left").select(
                "node",
                F.col("comp").alias("prev"),
                F.min(
                    F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp")))
                )
                .over(Window.partitionBy("comp"))
                .alias("comp"),
            )
            # pointer-jump step: comp ← label(comp). With the hop and hook
            # rounds grow with log(diameter): 13 on a 3000-edge chain,
            # where hop steps alone need about 3000.
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
            # signal. Raise so callers can widen max_iter.
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                f"({changed} labels still changing); the pair graph has a "
                "pathological diameter — raise max_iter"
            )
    finally:
        edges.unpersist()
    return labels


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
