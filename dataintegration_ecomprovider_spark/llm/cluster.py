"""Connected-components clustering for near-duplicate groups.

LSH candidate generation (llm/dedup.py) yields PAIRS; a real dedup pass
needs GROUPS — if A~B and B~C, then {A,B,C} is one duplicate cluster and
exactly one representative survives.  That is connected components over
the candidate-pair graph.

Scale design: the classic PySpark trap is collecting edges to the driver
and running union-find — O(edges) driver memory.  This implementation is
pure DataFrame iteration, a hash-min label propagation with POINTER
JUMPING (label <- label(label) each round, the Shiloach-Vishkin shortcut),
so convergence is O(log(diameter)) rounds, not O(diameter): a 1M-node
duplicate chain converges in ~20 rounds where naive propagation needs 1M.
Each round is two shuffles (one groupBy, one self-join), lineage is cut
with localCheckpoint so the plan does not grow across iterations, each
round frees the previous round's checkpoint blocks, and the loop
early-stops on a converged round (the change count is taken on rounds 0-1
and then every other round — it rides on the checkpoint the round
materializes anyway).

Duplicate clusters from LSH are near-cliques of small diameter, so in
practice 2-3 rounds converge; the pointer-jumping bound is for the
adversarial chain case.

Reference has no graph operator (dedup there is per-key hashtables,
src/EcomDestinationWriter.cs:1269-1278); this is a north-star LLM-pipeline
extension (BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark import runtime


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in `edges`; component =
    the minimum node id reachable, so ids double as stable cluster keys.

    Deterministic: no RNG, no monotonically_increasing_id — output is a
    pure function of the edge set, identical across retries and cluster
    sizes.  Raises if max_rounds is exhausted before convergence; because
    convergence is confirmed by a no-change round, a graph needs up to one
    round beyond its label-propagation depth, so the practical bound is a
    diameter around 2^(max_rounds-1) — unreachable for any real graph.

    Storage discipline: each round's checkpoint supersedes the previous
    round's — the superseded blocks are freed immediately (not left to
    accumulate over up to max_rounds rounds), so executor storage holds at
    most the edge table plus two label tables at any instant.  Convergence
    is counted on rounds 0-1 and then every other round (near-clique LSH
    graphs converge in 2-3 rounds; for longer chains the skipped checks
    halve the per-round action count at the cost of at most one extra
    round before detection)."""
    spark = edges.sparkSession
    # Scoped workaround for a Spark optimizer defect: Union's constraint
    # rewrite (UnionBase.rewriteConstraints) can hit "key not found:
    # <attr>" when the per-round plan self-joins the union-of-labels after
    # DeduplicateRelations regenerates attribute ids — reached only on
    # multi-round (deep-chain) graphs.  The round plans are explicit
    # joins/aggregations that gain nothing from inferred constraints, so
    # propagation is disabled for the duration of the iteration and
    # restored on exit (every action this function runs is inside the
    # scope; the returned plan is a plain projection over the final
    # checkpoint and optimizes fine either way).
    constraint_conf = "spark.sql.constraintPropagation.enabled"
    prev_conf = spark.conf.get(constraint_conf, "true")
    spark.conf.set(constraint_conf, "false")
    try:
        return _connected_components_rounds(spark, edges, src, dst, max_rounds)
    finally:
        spark.conf.set(constraint_conf, prev_conf)


def _connected_components_rounds(
    spark, edges: DataFrame, src: str, dst: str, max_rounds: int
) -> DataFrame:
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).filter(
        F.col("a") != F.col("b")
    )
    # checkpoint BEFORE deriving nodes, so the node distinct and the
    # initial label build both read the materialized edges instead of
    # re-evaluating the union+filter plan
    e, e_ids = runtime.local_checkpoint(e)
    # initial label: min(self, direct neighbors) — one shuffle
    nodes = e.select(F.col("a").alias("node")).distinct()
    lab, lab_ids = runtime.local_checkpoint(
        e.union(nodes.select(F.col("node").alias("a"), F.col("node").alias("b")))
        .groupBy("a")
        .agg(F.min("b").alias("label"))
        .withColumnRenamed("a", "node")
    )
    for r in range(max_rounds):
        # propagate: candidate label for u = min over neighbors' labels
        prop = (
            e.join(lab.withColumnRenamed("node", "b"), "b")
            .select(F.col("a").alias("node"), "label")
        )
        new = (
            lab.select("node", "label")
            .union(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: label <- min(label, label(label)) — halves chain
        # depth every round (log-round convergence on path graphs)
        jumped, jumped_ids = runtime.local_checkpoint(
            new.alias("x")
            .join(
                new.select(
                    F.col("node").alias("label"), F.col("label").alias("label2")
                ).alias("y"),
                "label",
                "left",
            )
            .select(
                F.col("node"),
                F.least(F.col("label"), F.coalesce("label2", "label")).alias(
                    "label"
                ),
            )
        )
        check = r < 2 or r % 2 == 1 or r == max_rounds - 1
        changed = None
        if check:
            changed = (
                jumped.join(lab.withColumnRenamed("label", "old"), "node")
                .filter(F.col("label") != F.col("old"))
                .count()
            )
        # the previous round's labels are fully superseded (jumped is
        # materialized, and `changed` — when checked — has been counted):
        # free those blocks now instead of accumulating across rounds
        runtime.unpersist_rdd_ids(spark, lab_ids)
        lab, lab_ids = jumped, jumped_ids
        if changed == 0:
            runtime.unpersist_rdd_ids(spark, e_ids)
            # the FINAL label checkpoint backs the returned DataFrame —
            # register it so the caller's release_caches frees it once
            # the results are consumed
            runtime.track_rdd_ids(lab_ids)
            return lab.select("node", F.col("label").alias("component"))
    runtime.unpersist_rdd_ids(spark, e_ids | lab_ids)
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds"
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    broadcast: bool | None = None,
    broadcast_max_nodes: int = 4_000_000,
) -> DataFrame:
    """Assign every document its duplicate-cluster id (min doc id in the
    component; singletons are their own cluster) and flag the canonical
    survivor.  Filtering `is_canonical` is the keep-one-per-cluster dedup.

    The broadcast of the component map is GATED, not forced: the map
    scales with the candidate-pair node set, and on a duplicate-heavy
    corpus — the main dedup use case at 100 TB — forcing the hint would
    blow past Spark's broadcast hard limit / driver memory and hard-fail
    where a shuffle join succeeds.  ``broadcast=None`` (default) measures
    the map (one cheap count over the already-checkpointed labels) and
    broadcasts only under `broadcast_max_nodes` (~4M nodes ≈ tens of MB of
    (id, id) pairs), falling back to a plain key-shuffle join otherwise;
    True/False overrides the gate in either direction."""
    comp = connected_components(pairs, src=src, dst=dst)
    if broadcast is None:
        # comp reads a materialized checkpoint — counting it is one cheap
        # pass over stored blocks, not a recompute of the iteration
        broadcast = comp.count() <= broadcast_max_nodes
    mapped = comp.withColumnRenamed("node", id_col)
    if broadcast:
        mapped = F.broadcast(mapped)
    return (
        docs.join(mapped, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )
