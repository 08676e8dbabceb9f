"""Distributed connected components over near-dup pair graphs.

The dedup strategies (operators/dedup.py) emit PAIRS (id_a, id_b); a
curation pipeline needs CLUSTERS — one canonical document kept per
transitively-connected group. (The reference has no
dedup at all, SURVEY.md O17; this is part of the training-data layer the
engine adds on top.)

Algorithm: iterative min-label propagation. Every node starts labeled
with its own id; each round every node takes the min of its own label and
its neighbors' labels; at the fixed point every node in a component
carries the component's minimum id. Each round is one equi-join (edges x
labels, shuffle keyed by node id) plus one map-side-combinable groupBy —
both scale-safe shapes at 10^10 nodes.

Rounds needed = the graph's diameter. Near-dup clusters are dense and
tiny in diameter (a duplicate "family" — usually a clique or a star), so
propagation converges in 2-4 rounds; for general graphs with long chains
the alternating large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) halves path
lengths per round instead — noted as the swap-in if cluster shapes ever
degenerate; the interface here is shape-agnostic.

Driver-side iteration with per-round ``localCheckpoint`` keeps the
logical plan flat (no per-iteration lineage growth — the same discipline
as the crawl round loop, plans/crawl.py); on a real cluster with
executor-loss concerns this becomes ``checkpoint`` into the job's
snapshot directory. Convergence is detected from the label-sum
aggregate: labels only ever decrease, so an unchanged sum IS the fixed
point — one tiny action per round, no row-wise diff join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(id, label) for every node appearing in ``edges``: ``label`` is the
    minimum node id of the node's connected component. Undirected — edges
    are symmetrized. Raises if ``max_iter`` rounds don't converge (a
    diameter that large means the wrong algorithm is in play, see module
    docstring)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        # partitioned by the join key once; every round's join reuses it
        .repartition(F.col("src"))
        .persist()
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    # Convergence sums are taken over decimal(38,0), not int64: labels are
    # node ids, and with 64-bit hash ids at 10^10 nodes an int64 label-sum
    # wraps (Spark non-ANSI sum overflows silently), which could in
    # principle mask a round's progress as "unchanged". decimal(38,0)
    # holds the exact sum of 10^10 63-bit values with ~9 digits to spare.
    _exact_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = labels.agg(_exact_sum).collect()[0][0]
    try:
        for _ in range(max_iter):
            prop = sym.join(
                labels, sym["src"] == labels["id"], "inner"
            ).select(F.col("dst").alias("id"), F.col("label"))
            labels = (
                labels.unionByName(prop)
                .groupBy("id")
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=True)
            )
            new_sum = labels.agg(_exact_sum).collect()[0][0]
            if new_sum == prev_sum:
                return labels
            prev_sum = new_sum
    finally:
        sym.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def cluster_assignments(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, keep) per document that appears
    in at least one near-dup pair: ``cluster_id`` is the component's min
    doc id, ``keep`` marks the canonical representative (the min-id doc —
    the same keep-lowest rule as exact_dedup). The size window shuffles
    on cluster_id — cluster counts are the skew bound, and near-dup
    components are small by construction (bounded by how many true copies
    of one document exist)."""
    labels = connected_components(pairs, src, dst)
    from pyspark.sql import Window

    w = Window.partitionBy("label")
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.count("*").over(w).cast("long").alias("cluster_size"),
        (F.col("id") == F.col("label")).alias("keep"),
    )

