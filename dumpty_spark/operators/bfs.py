"""Bounded multi-source BFS (EXT E108's engine half, extracted from the
query in round 6 to join the two-regime family).

Semantics: per source, every node reachable within ``n_hops`` directed
hops with its hop distance — (src, node, dist), dist 0 for the source
itself, each node at its FIRST (minimal) distance.

Two-regime like pagerank/LPA/kcore: per hop the distributed loop is a
frontier⋈edges join + distinct + visited anti-join + checkpoint —
3 hops of per-round job latency on a graph that fits the driver — so at
or below ``driver_max_edges`` the walk runs as vectorized numpy rounds
(np.isin over the sorted edge array) on the collected edge list,
identical frontier-contraction semantics (regime equality pinned by
tests). The gate counts BEFORE any collect, so it self-disables at
scale; pass 0 to force the distributed loop. The distributed loop is
the one the 100 TB deployment runs: the frontier CONTRACTS via the
anti-join, and per-hop localCheckpoint truncates lineage so hop k never
replays hops 1..k-1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bfs_driver(e: DataFrame, sources: list, n_hops: int) -> DataFrame:
    import numpy as np
    import pandas as pd

    pdf = e.toPandas()
    u = pdf["u"].to_numpy()
    v = pdf["v"].to_numpy()
    order = np.argsort(u, kind="stable")
    u, v = u[order], v[order]
    rows_src, rows_node, rows_dist = [], [], []
    for s in sources:
        visited = np.asarray([s])
        frontier = np.asarray([s])
        rows_src.append(s)
        rows_node.append(s)
        rows_dist.append(0)
        for hop in range(1, n_hops + 1):
            if len(frontier) == 0:
                break
            mask = np.isin(u, frontier)
            cand = np.unique(v[mask])
            fresh = cand[~np.isin(cand, visited)]
            if len(fresh) == 0:
                break
            visited = np.concatenate([visited, fresh])
            frontier = fresh
            rows_src.extend([s] * len(fresh))
            rows_node.extend(fresh.tolist())
            rows_dist.extend([hop] * len(fresh))
    return e.sparkSession.createDataFrame(
        pd.DataFrame(
            {"src": rows_src, "node": rows_node, "dist": rows_dist}
        ).astype({"dist": "int32"})
    )


def bounded_bfs(
    edges: DataFrame,
    sources: list,
    n_hops: int = 3,
    src_col: str = "u",
    dst_col: str = "v",
    driver_max_edges: int = 5_000_000,
) -> DataFrame:
    """(src, node, dist) for every node within ``n_hops`` of each
    source. ``sources`` is a driver-known literal list by contract
    (seed sets are small)."""
    if not sources:
        # explicit, like personalized_pagerank's empty-seed guard —
        # otherwise both regimes die on opaque schema inference from an
        # empty frame (ADVICE r6)
        raise ValueError("bounded_bfs: empty source set")
    e = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).localCheckpoint()
    from dumpty_spark.operators import telemetry

    if telemetry.two_regime("bounded_bfs", e.count(), driver_max_edges):
        return _bfs_driver(e, sources, n_hops)
    spark = e.sparkSession
    visited = spark.createDataFrame(
        [(s, s, 0) for s in sources], ["src", "node", "dist"]
    ).select("src", "node", F.col("dist").cast("int").alias("dist")).localCheckpoint()
    frontier = visited
    for hop in range(1, n_hops + 1):
        expanded = (
            frontier.join(e, frontier["node"] == e["u"])
            .select("src", F.col("v").alias("node"))
            .distinct()
        )
        fresh = expanded.join(visited, ["src", "node"], "left_anti").withColumn(
            "dist", F.lit(hop)
        )
        visited = visited.unionAll(fresh).localCheckpoint()
        frontier = visited.filter(F.col("dist") == hop)
    return visited
