"""Distributed connected components for duplicate clustering.

Near-dup discovery (MinHash/LSH, SimHash, exact Jaccard) produces
PAIRS; a 100-TB dedup pass must then group pairs into transitive
clusters and keep one canonical doc per cluster. That grouping is
connected components over the pair graph.

Implementation: iterative min-label propagation — every node starts
labelled with itself; each round a node adopts the minimum label among
itself and its neighbors; fixpoint in O(graph diameter) rounds. Each
round is one shuffle-join + one aggregate, all DataFrame-native, and
the labels frame is localCheckpoint'ed so lineage (and the Catalyst
plan) stays O(1) across rounds instead of growing per iteration.
Duplicate-cluster graphs are near-clique bundles with tiny diameter,
so 2-3 rounds converge. A graph whose diameter exceeds the round cap
(a long version chain) raises `ComponentsNotConverged` instead of
returning partial labels; the alternating small-star/large-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond") needs O(log n) rounds there and slots into the same loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ComponentsNotConverged(RuntimeError):
    """Label propagation hit its round cap while labels still moved:
    the labels it has would split components."""


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free the cached blocks behind a localCheckpoint'ed DataFrame.

    Dataset.localCheckpoint pins its data as cached RDD blocks and
    exposes no unpersist — without an explicit release every iteration
    of a checkpointed loop LEAKS a full copy of the frame for the
    session's lifetime (measured: the 100x dup-cluster pipeline OOMed
    an 8g driver on its SECOND run in one session because the first
    run's blocks were still pinned). The checkpointed plan is a
    LogicalRDD whose rdd() is exactly the pinned RDD; unpersisting it
    frees the blocks (the frame itself becomes unusable — only call
    this on frames superseded by a newer checkpoint). Best-effort: on
    any reflection mismatch we leave the blocks to session cleanup."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, label) for every node appearing in `edges`, where label
    is the minimum node id of its connected component. Edges are
    treated as undirected (symmetrized internally); isolated nodes
    are the caller's concern (they never appear in a pair list).

    Labels move one hop per round, so a component of diameter d needs
    d rounds plus one that changes nothing. If `max_iter` rounds end
    without such a round, raises ComponentsNotConverged."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .union(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            e.join(labels, e.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        # the old labels checkpoint is superseded — free its blocks NOW
        # (not at session end), or k rounds pin k copies of the frame
        _release_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    else:
        _release_local_checkpoint(labels)
        _release_local_checkpoint(e)
        raise ComponentsNotConverged(
            f"connected_components: labels still changed after "
            f"max_iter={max_iter} rounds; the graph's diameter exceeds "
            "the round cap"
        )
    # edge frame no longer needed once labels have converged
    _release_local_checkpoint(e)
    return labels


def dedup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Cluster a near-dup pair list: (cluster_id = min member, n_members,
    members = '|'-joined sorted ids). cluster_id is the canonical
    survivor under keep-min policy; every other member is a drop."""
    cc = connected_components(pairs, id_a, id_b)
    return cc.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count("*").alias("n_members"),
        F.concat_ws(
            "|",
            F.transform(
                F.array_sort(F.collect_list("node")), lambda x: x.cast("string")
            ),
        ).alias("members"),
    )
