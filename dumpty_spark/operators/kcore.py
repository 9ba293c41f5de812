"""k-core subgraph extraction (EXT E50).

Training-data use: in link/co-occurrence/similarity graphs, the k-core
(the maximal subgraph where every node keeps degree ≥ k) separates
densely-embedded nodes from the long tail — the standard structural
filter for spam farms (high in-degree, low core) and for picking the
"well-connected" slice of a citation or co-purchase graph.

Algorithm: iterative peeling — drop nodes whose CURRENT degree < k,
re-derive degrees on the surviving subgraph, repeat to fixpoint. Each
round is one partial-aggregated degree count + one semi-join filter on
the (shrinking) edge list; ``localCheckpoint`` bounds lineage exactly
like the other iterative operators here. Converges in at most O(n)
rounds in theory, a handful in practice (each round removes a whole
"shell" of the graph, not one node).

The peeling invariant makes this exact, not approximate: a node outside
the k-core can never re-enter (degrees only shrink), and a node of the
k-core is never removed (its ≥ k neighbors are also in the core) — the
property the pure-python reference in tests re-derives independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _kcore_driver(e: DataFrame, k: int) -> DataFrame:
    """Driver regime: vectorized numpy peeling over the collected edge
    list — identical shell-at-a-time semantics to the distributed loop
    (degrees recomputed on survivors each round), so the two regimes are
    bit-identical (pinned by tests)."""
    import numpy as np
    import pandas as pd

    pdf = e.toPandas()
    u = pdf["u"].to_numpy()
    v = pdf["v"].to_numpy()
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    ui, vi = inv[: len(u)], inv[len(u) :]
    n = len(ids)
    alive_n = np.ones(n, dtype=bool)
    alive_e = np.ones(len(ui), dtype=bool)
    while True:
        deg = np.bincount(ui[alive_e], minlength=n) + np.bincount(
            vi[alive_e], minlength=n
        )
        bad = alive_n & (deg < k)
        if not bad.any():
            break
        alive_n &= ~bad
        alive_e &= alive_n[ui] & alive_n[vi]
    deg = np.bincount(ui[alive_e], minlength=n) + np.bincount(
        vi[alive_e], minlength=n
    )
    keep = alive_n
    if not keep.any():
        # empty core: schema-stable empty frame (createDataFrame cannot
        # infer types from an empty pandas frame)
        return (
            e.select(F.col("u").alias("id"))
            .limit(0)
            .withColumn("degree", F.lit(0).cast("long"))
        )
    return e.sparkSession.createDataFrame(
        pd.DataFrame({"id": ids[keep], "degree": deg[keep].astype("int64")})
    )


def kcore(
    edges: DataFrame,
    k: int,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 100,
    driver_max_edges: int = 5_000_000,
) -> DataFrame:
    """Nodes of the k-core of the undirected graph, as (id, degree) with
    degree counted INSIDE the core. Self-loops ignored; parallel edges
    collapsed.

    Two-regime like pagerank/LPA (operators/graph.py): peeling is a
    dozen+ tiny rounds of degree-count + anti-join — pure per-round job
    latency on a graph that fits the driver, so at or below
    ``driver_max_edges`` the peel runs as numpy bincount rounds on the
    collected edge list (identical semantics); pass 0 to force the
    distributed loop, as the regime-equality test does. The gate counts
    BEFORE any collect, so it self-disables at scale."""
    e = (
        edges.select(
            F.least(a_col, b_col).alias("u"), F.greatest(a_col, b_col).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    from dumpty_spark.operators import telemetry

    if telemetry.two_regime("kcore", e.count(), driver_max_edges):
        return _kcore_driver(e, k)
    for _ in range(max_iter):
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        deg = sym.groupBy("u").agg(F.count("*").alias("d"))
        # filter via the REMOVED set, not the kept set: the shell being
        # peeled is the small side (empty at fixpoint), so both anti
        # joins broadcast, and its count doubles as the convergence test
        # — no extra edge-count action per round
        bad = deg.filter(F.col("d") < k).select("u").localCheckpoint()
        n_bad = bad.count()
        if n_bad == 0:
            break
        # early rounds can peel a large shell — broadcast only while the
        # shell fits an executor (same 5M-row bound as the graph ops)
        hint = F.broadcast if n_bad < 5_000_000 else (lambda df: df)
        e = (
            e.join(
                hint(bad.withColumnRenamed("u", "uu")),
                F.col("u") == F.col("uu"),
                "anti",
            )
            .join(
                hint(bad.withColumnRenamed("u", "vv")),
                F.col("v") == F.col("vv"),
                "anti",
            )
            .localCheckpoint()
        )
    else:
        raise RuntimeError(f"kcore did not stabilize in {max_iter} rounds")
    sym = e.select("u", "v").union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    return sym.groupBy(F.col("u").alias("id")).agg(F.count("*").alias("degree"))
