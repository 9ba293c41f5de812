"""Sampled-source approximate betweenness centrality (bounded Brandes).

The one classic centrality missing from the graph family (PageRank /
PPR / HITS / degree / k-core / local clustering / ANF all ship):
betweenness ranks BROKER nodes — the parts whose removal disconnects
co-purchase neighborhoods, the documents that bridge near-dup clusters.
Exact betweenness is all-pairs shortest paths (O(V·E), hopeless at
100 TB); the standard scalable estimator (Brandes-Pich) runs Brandes'
dependency accumulation from a SAMPLED set of k source nodes, each
source costing one forward BFS + one backward sweep — edge-linear per
source, embarrassingly parallel across sources.

Semantics (H-bounded, per source s):
  forward   d(v) = hop distance (level-synchronous BFS, depth <= H),
            sigma(v) = #shortest s->v paths — EXACT BIGINTs, summed
            level-by-level over predecessor counts;
  backward  delta(v) = sum over successors w (d(w) = d(v)+1) of
            sigma(v)/sigma(w) * (1 + delta(w)), levels H-1 .. 1,
            REQUANTIZED to 9dp per level (the E169 trajectory
            discipline) so both regimes and the unrolled-CTE oracle
            walk the identical grid;
  estimate  bc(v) ~= sum over sampled s of delta_s(v), v != s.

The H bound makes the loop fixed-depth (SQL-unrollable, bounded rounds
at any scale) and is principled for centrality ESTIMATION: on
small-diameter co-occurrence graphs nearly all shortest paths are short,
and the bound turns the worst case from diameter-many rounds into H.

TWO-REGIME like pagerank/CC/BFS (operators/graph.py, dedup.py, bfs.py):
below ``driver_max_edges`` the collected edge list runs vectorized
numpy Brandes rounds driver-side (identical level math, identical 9dp
grid); above it, the distributed loop — per forward level one
frontier⋈edges join + (src,node) partial-agg sum + visited anti-join,
per backward level one level⋈edges⋈next-level join + partial-agg sum —
with localCheckpoint truncating lineage each level. sigma stays BIGINT
everywhere: sigma <= max_degree^H, so H=4 holds exactly to ~55k average
degree — far past any co-purchase graph this engine targets (documented
bound, not a silent wrap: the x10 sweep re-measures).

Scale: sources are k driver-known literals (top-degree — deterministic,
and high-degree sources reach the most pairs per BFS, the Brandes-Pich
pivot heuristic). All k sources advance TOGETHER in one frontier frame
keyed by src — k× the rows, same number of Spark stages as one source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_Q = 9  # delta trajectory grid (digits), the E169 discipline


def _brandes_driver(
    e: DataFrame, sources: list, max_depth: int
) -> DataFrame:
    """Driver regime: vectorized numpy bounded Brandes over the
    collected edge list — level-synchronous forward sigma via
    np.add.at on exact int64, backward delta with the same per-level
    9dp requantization the distributed loop applies."""
    import numpy as np
    import pandas as pd

    pdf = e.toPandas()
    ids, inv = np.unique(
        np.concatenate([pdf["u"].to_numpy(), pdf["v"].to_numpy()]),
        return_inverse=True,
    )
    ui, vi = inv[: len(pdf)], inv[len(pdf):]
    n = len(ids)
    id_of = {int(x): i for i, x in enumerate(ids)}

    rows_src, rows_node, rows_dist, rows_delta = [], [], [], []
    for s in sources:
        si = id_of.get(int(s))
        if si is None:
            continue
        dist = np.full(n, -1, dtype="int64")
        sigma = np.zeros(n, dtype="int64")
        dist[si] = 0
        sigma[si] = 1
        for d in range(1, max_depth + 1):
            lvl_mask = dist[ui] == d - 1
            tv = vi[lvl_mask]
            if len(tv) == 0:
                break
            new = np.unique(tv[dist[tv] == -1])
            if len(new) == 0:
                break
            dist[new] = d
            m2 = lvl_mask & (dist[vi] == d)
            np.add.at(sigma, vi[m2], sigma[ui[m2]])
        delta = np.zeros(n, dtype="float64")
        for d in range(max_depth - 1, 0, -1):
            m = (dist[ui] == d) & (dist[vi] == d + 1)
            if m.any():
                contrib = (
                    sigma[ui[m]].astype("float64") / sigma[vi[m]]
                ) * (1.0 + delta[vi[m]])
                tmp = np.zeros(n, dtype="float64")
                np.add.at(tmp, ui[m], contrib)
            else:
                tmp = np.zeros(n, dtype="float64")
            at_d = dist == d
            delta[at_d] = np.round(tmp[at_d], _Q)
        reached = (dist >= 1)
        rows_src.extend([int(s)] * int(reached.sum()))
        rows_node.extend(ids[reached].tolist())
        rows_dist.extend(dist[reached].tolist())
        rows_delta.extend(delta[reached].tolist())
    return e.sparkSession.createDataFrame(
        pd.DataFrame(
            {
                "src": pd.Series(rows_src, dtype="int64"),
                "node": pd.Series(rows_node, dtype="int64"),
                "dist": pd.Series(rows_dist, dtype="int32"),
                "delta": pd.Series(rows_delta, dtype="float64"),
            }
        )
    )


def sampled_betweenness(
    edges: DataFrame,
    sources: list,
    max_depth: int = 4,
    src_col: str = "u",
    dst_col: str = "v",
    driver_max_edges: int = 5_000_000,
) -> DataFrame:
    """Per-source Brandes dependencies: (src, node, dist, delta) for
    every node within ``max_depth`` hops of each sampled source
    (dist >= 1 — the source's own row carries no dependency).  The
    caller aggregates sum(delta) per node for the centrality estimate.
    ``sources`` is a driver-known literal list by contract (pivot sets
    are small); deterministic for a fixed source set and depth."""
    if not sources:
        raise ValueError("sampled_betweenness: empty source set")
    e = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).localCheckpoint()
    from dumpty_spark.operators import telemetry

    if telemetry.two_regime("betweenness", e.count(), driver_max_edges):
        return _brandes_driver(e, sources, max_depth)
    spark = e.sparkSession

    # ---- forward: level-synchronous BFS with exact path counts -------
    visited = (
        spark.createDataFrame(
            [(int(s), int(s), 0, 1) for s in sources],
            ["src", "node", "dist", "sigma"],
        )
        .select(
            "src", "node",
            F.col("dist").cast("int").alias("dist"),
            F.col("sigma").cast("long").alias("sigma"),
        )
        .localCheckpoint()
    )
    # Join-strategy note (r12, guide §3.1 — found by the ×10 bench leg):
    # in the distributed regime every per-level frame here (frontier,
    # visited, the delta levels) is NODE-scaled — k sources × reachable
    # nodes — and grows with the graph, yet its size estimate after a
    # localCheckpoint sits near the autoBroadcast threshold at mid
    # scale, so AQE tried to BUILD AND BROADCAST it from the driver
    # (observed: broadcast OOM at ×10/24M edges on the 12g pre-touched
    # heap). The merge hints pin the node-scaled sides to sort-merge —
    # graceful spill at any scale, never a driver-sized build; results
    # are strategy-independent. The driver regime (all bench SFs) is
    # untouched.
    frontier = visited
    for d in range(1, max_depth + 1):
        expanded = (
            frontier.hint("merge").join(e, frontier["node"] == e["u"])
            .groupBy("src", F.col("v").alias("nxt"))
            .agg(F.sum("sigma").alias("sigma"))
            .withColumnRenamed("nxt", "node")
        )
        fresh = (
            expanded.join(visited.select("src", "node").hint("merge"),
                          ["src", "node"], "left_anti")
            .withColumn("dist", F.lit(d).cast("int"))
            .select("src", "node", "dist", "sigma")
        )
        visited = visited.unionAll(fresh).localCheckpoint()
        frontier = visited.filter(F.col("dist") == d)

    # ---- backward: dependency accumulation, deepest level first ------
    # delta at max_depth is identically 0 (no deeper successors in the
    # bounded universe); each shallower level joins its successor level
    # through the edge list and requantizes to the 9dp grid.
    deltas = (
        visited.filter(F.col("dist") == max_depth)
        .select("src", "node", "dist", F.lit(0.0).alias("delta"))
    )
    level_below = deltas  # (src, node, delta) rows at dist d+1
    for d in range(max_depth - 1, 0, -1):
        lv_d = visited.filter(F.col("dist") == d)
        below = level_below.select(
            F.col("src").alias("wsrc"),
            F.col("node").alias("wnode"),
            F.col("delta").alias("wdelta"),
        ).hint("merge").join(
            visited.filter(F.col("dist") == d + 1).select(
                F.col("src").alias("wsrc"),
                F.col("node").alias("wnode"),
                F.col("sigma").alias("wsigma"),
            ),
            ["wsrc", "wnode"],
        )
        succ = (
            lv_d.alias("a")
            .hint("merge")
            .join(e, F.col("a.node") == e["u"])
            .join(
                below.hint("merge"),
                (F.col("a.src") == F.col("wsrc"))
                & (e["v"] == F.col("wnode")),
            )
            .groupBy(F.col("a.src").alias("gsrc"),
                     F.col("a.node").alias("gnode"))
            .agg(
                F.sum(
                    F.col("a.sigma").cast("double") / F.col("wsigma")
                    * (F.lit(1.0) + F.col("wdelta"))
                ).alias("raw")
            )
        )
        lvl_delta = (
            lv_d.hint("merge").join(
                succ,
                (lv_d["src"] == succ["gsrc"])
                & (lv_d["node"] == succ["gnode"]),
                "left",
            )
            .select(
                lv_d["src"], lv_d["node"], lv_d["dist"],
                F.round(F.coalesce(F.col("raw"), F.lit(0.0)), _Q)
                .alias("delta"),
            )
            .localCheckpoint()
        )
        deltas = deltas.unionAll(lvl_delta)
        level_below = lvl_delta
    return deltas
