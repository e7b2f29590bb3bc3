"""Connected components — near-duplicate pairs → duplicate clusters.

Beyond-reference surface (SURVEY.md §7 M4): MinHash/SimHash emit PAIRS;
a dedup pipeline needs CLUSTERS (every doc labeled with its component's
canonical id, then keep-one-per-cluster). Flink's Gelly graph library is
gutted in the reference fork (SURVEY.md §0 table), so this is also the
one graph primitive the engine re-provides.

Algorithm: iterative min-label propagation (a.k.a. hash-to-min) — each
node's label = min(own, neighbors' labels), repeated until fixpoint.
Iterations are a driver-side loop over DataFrames (SURVEY.md §2.9:
DataStream.iterate → driver loop), converging in O(diameter) rounds;
near-dup graphs are unions of small cliques, so 2-4 rounds in practice.

Scale: each round is one join (labels ⋈ edges) + one min-aggregation,
both shuffling on the node id — the standard large-scale CC
(Kiveris et al., "Connected Components in MapReduce and Beyond"). The
edge list and each round's labels are checkpointed so lineage stays
O(1) and the (expensive) pair-generation upstream runs exactly once.

Small graphs skip the rounds: when the checkpointed edge list holds at
most `CAP` rows, one job collects it and a min-root union-find labels
the nodes in the driver — the same min-id labels, one job instead of
one per round. The labels go back as an Arrow table, which Spark plans
as a LocalTableScan; a list of Python rows would instead be an RDD
scan that starts a Python worker per partition.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

# Largest directed edge list (both directions of every pair) labeled in
# the driver.  At the cap (4-core host, 66,667 nodes in 3-edge chains):
# collect, union-find and the local result frame took 0.67-0.93 s warm
# (1.8 s on a cold JVM) and raised driver RSS by 24-39 MB; end to end,
# connected_components took 3.2 s on this path and 5.0 s on the round
# loop.  Twice the cap doubles both (1.3-1.7 s, 54-66 MB).
CAP = 100_000


def _driver_components(edges: list) -> list[tuple]:
    """(node, component) by min-root union-find over `edges` (u, v)
    rows: every union hangs the larger root under the smaller, so each
    root is its component's min id."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return [(n, find(n)) for n in parent]


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Label every node of the pair graph with its component's min id.

    Returns (node, component). Deterministic: component = smallest node
    id in the connected component. The round loop runs to its fixpoint:
    labels only fall, so it ends within diameter + 1 rounds."""
    # Materialize the edge list ONCE: `pairs` usually carries an
    # expensive lineage (MinHash banding, signature joins) that must not
    # be recomputed every round. On a cluster this would be
    # `.checkpoint()` to reliable storage.
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint()
    )
    small = edges.limit(CAP + 1).collect()
    if len(small) <= CAP:
        t = edges.schema["u"].dataType
        schema = StructType([StructField("node", t), StructField("component", t)])
        labeled = _driver_components(small)
        table = pa.table(
            [[n for n, _ in labeled], [c for _, c in labeled]], schema=to_arrow_schema(schema)
        )
        return edges.sparkSession.createDataFrame(table, schema)
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    while True:
        # candidate labels via one hop: neighbor's current label
        nbr = (
            edges.join(labels.withColumnRenamed("node", "v"), "v")
            .select(F.col("u").alias("node"), "component")
        )
        # ONE job per round (r14, was 2): the convergence probe rides
        # the min-agg instead of a separate probe join — each node's
        # previous label is recovered inside the same aggregation
        # (every node has exactly one is_old row by construction:
        # labels is one row per node), and the count of changed nodes
        # is the single action that also materializes the lazy
        # localCheckpoint (full scan, no limit, so every partition's
        # block is stored and lineage stays O(1) per round).
        new_labels = (
            labels.withColumn("is_old", F.lit(True))
            .unionByName(nbr.withColumn("is_old", F.lit(False)))
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("is_old"), F.col("component"))).alias("old"),
            )
            .withColumn("chg", F.col("component") != F.col("old"))
            .select("node", "component", "chg")
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("chg")).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            return labels


def dedup_assignment(
    docs: DataFrame, pairs: DataFrame, id_col: str, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Full-corpus dedup labeling: every doc → (doc, cluster, is_duplicate).
    Docs not in any pair are their own singleton cluster."""
    cc = connected_components(pairs, src, dst)
    out = (
        docs.select(F.col(id_col).alias("doc"))
        .join(cc.withColumnRenamed("node", "doc"), "doc", "left")
        .withColumn("cluster", F.coalesce(F.col("component"), F.col("doc")))
        .withColumn("is_duplicate", F.col("cluster") != F.col("doc"))
        .select("doc", "cluster", "is_duplicate")
    )
    return out
