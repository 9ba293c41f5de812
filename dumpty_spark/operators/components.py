"""Incremental connected-components store (EXT E46).

The missing piece between the incremental pair generators and cluster
consumers: E14' discovers NEW near-dup pairs each batch without
re-reading history, but turning pairs into cluster ids previously meant
re-running CC over every pair ever seen. This store keeps the (id →
cluster_id) assignment AT REST and folds a new pair batch in with work
∝ (new edges + rows in touched clusters), never ∝ corpus.

The union-find contraction argument makes this exact, not approximate:
components of (old graph ∪ new edges) equal components of the CONTRACTED
graph whose super-nodes are old cluster ids — so each batch runs
``connected_components`` (the full two-regime/auto machinery from
operators/dedup.py) on a graph of new-batch size, then remaps only the
touched clusters. cluster_id stays the min member id globally: old ids
are their clusters' minima, so the contracted CC's min-label IS the
merged component's global minimum.

Storage is a manifest-commit versioned store (sinks/manifest.py): every
batch publishes atomically (readers see the old assignment or the new
one, never a half-merge), replaying history is time travel, and the
row-level update goes through the keyed-upsert path so only files
containing touched-cluster rows are rewritten.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dumpty_spark.operators.dedup import connected_components
from dumpty_spark.sinks import manifest as M
from dumpty_spark.sinks.writers import upsert_keys


def component_store_update(
    spark: SparkSession,
    root: str,
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> dict:
    """Fold one batch of pair edges into the store. Creates the store on
    first use. Returns {"version", "n_new_edges", "n_touched_clusters",
    "n_rows_upserted"}."""
    edges = pairs.select(
        F.col(a_col).cast("long").alias("a_id"),
        F.col(b_col).cast("long").alias("b_id"),
    ).localCheckpoint()
    n_edges = edges.count()

    if not M.is_versioned(root):
        labels = connected_components(edges).select(
            "id", F.col("cluster_id")
        )
        M.create_store(labels, root, partitions=4)
        return {
            "version": 0,
            "n_new_edges": n_edges,
            "n_touched_clusters": labels.select("cluster_id").distinct().count(),
            "n_rows_upserted": labels.count(),
        }

    old = M.read_store(spark, root)  # (id, cluster_id)

    # contract each new edge's endpoints through the existing assignment
    # (endpoints unseen so far are their own super-node); the contracted
    # graph is batch-sized, so the full CC machinery runs at batch cost
    la = old.select(F.col("id").alias("a_id"), F.col("cluster_id").alias("la"))
    lb = old.select(F.col("id").alias("b_id"), F.col("cluster_id").alias("lb"))
    contracted = (
        edges.join(la, "a_id", "left")
        .join(lb, "b_id", "left")
        .select(
            F.coalesce("la", "a_id").alias("a_id"),
            F.coalesce("lb", "b_id").alias("b_id"),
        )
        .filter(F.col("a_id") != F.col("b_id"))
    )
    # super-node components: maps old cluster ids / new node ids → merged
    # min. No emptiness pre-probe (r11 optimization): isEmpty() evaluated
    # the contracted join once just to decide, then connected_components
    # evaluated it again — CC on an empty frame returns an empty label
    # frame through the same code path, so the probe bought nothing.
    remap = (
        connected_components(contracted).select(
            F.col("id").alias("old_label"), F.col("cluster_id").alias("new_label")
        )
    ).localCheckpoint()

    # rows to upsert: members of touched clusters with a CHANGED label,
    # plus every node of this batch not yet in the store
    changed_old = (
        old.join(
            remap.filter(F.col("old_label") != F.col("new_label")),
            old.cluster_id == F.col("old_label"),
        )
        .select("id", F.col("new_label").alias("cluster_id"))
    )
    batch_nodes = (
        edges.select(F.col("a_id").alias("id"))
        .union(edges.select(F.col("b_id").alias("id")))
        .distinct()
    )
    new_nodes = (
        batch_nodes.join(old.select("id"), "id", "left_anti")
        .join(remap, F.col("id") == F.col("old_label"), "left")
        .select("id", F.coalesce("new_label", "id").alias("cluster_id"))
    )
    updates = changed_old.unionByName(new_nodes).localCheckpoint()
    n_upserted = updates.count()
    if n_upserted:
        stats = upsert_keys(spark, root, "id", updates)
    else:
        stats = {"version": M.current_version(root)}
    return {
        "version": stats["version"],
        "n_new_edges": n_edges,
        "n_touched_clusters": remap.filter(
            F.col("old_label") != F.col("new_label")
        ).select("new_label").distinct().count(),
        "n_rows_upserted": n_upserted,
    }


def component_store_read(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """The current (or any retained) assignment snapshot."""
    return M.read_store(spark, root, version)
