"""Session-scoped co-purchase pair graph, shared across the graph
operator family (same pattern as the shared ANN artifacts in
queries/vector.py): q_pagerank_parts, q_triangle_count, q_kcore_parts,
q_label_propagation and q_bfs_reachability all analyze the IDENTICAL
derived edge list (distinct canonical u<v part pairs sharing an order).
Building it costs one orderkey shuffle + a map-side explode + a distinct
exchange (~4s at sf0.1) — per QUERY before this cache, once per
(session, sf_dir) after, exactly what a production deployment does by
materializing the pair graph as a table. localCheckpoint blocks are
reclaimed with the session; ``session.memo`` keys on the session, so a
new SparkSession never sees another session's blocks. Every consumer's
RESULT is unchanged: they all start from the same distinct pair set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dumpty_spark.session import memo
from dumpty_spark.sources.parquet import load_table


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct canonical (u < v) part co-purchase pairs, checkpointed
    once per (session, sf_dir)."""

    def build():
        li = load_table(spark, sf_dir, "lineitem")
        baskets = li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("parts")
        )
        return (
            baskets.select(
                F.explode(
                    F.expr(
                        "flatten(transform(parts, (x, i) -> "
                        "transform(slice(parts, i + 2, size(parts)), "
                        "y -> struct(x AS u, y AS v))))"
                    )
                ).alias("p")
            )
            .select("p.u", "p.v")
            .distinct()
            .localCheckpoint()
        )

    return memo(spark, ("pairs", sf_dir), build)


def copurchase_symmetric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both-direction edge view of the cached pairs (map-side union)."""
    p = copurchase_pairs(spark, sf_dir)
    return p.unionAll(p.select(F.col("v").alias("u"), F.col("u").alias("v")))


def jaccard_pair_graph(
    spark: SparkSession, sf_dir: str, k: int = 3, threshold: float = 0.8
) -> DataFrame:
    """The exact 3-gram Jaccard near-dup pair graph over documents —
    checkpointed once per (session, sf_dir, k, threshold). Seven queries
    (pairs / clusters / canonical survivors / dedup report / leakage
    split / component store / graph health) consume this identical
    frame; like the co-purchase pairs above, a production corpus build
    materializes it ONCE as the dedup edge table and every downstream
    stage reads it."""
    from dumpty_spark.operators import dedup as D

    def build():
        docs = load_table(spark, sf_dir, "documents")
        return D.jaccard_pairs(
            docs, "doc_id", "text", k=k, threshold=threshold
        ).localCheckpoint()

    return memo(spark, ("jaccard", sf_dir, k, float(threshold)), build)
