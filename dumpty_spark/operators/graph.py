"""PageRank over a DataFrame edge list — the second iterative-graph
operator next to connected components (operators/dedup.py).

Why it belongs in a training-data engine: centrality over a similarity
or co-occurrence graph is a standard document/entity importance signal
(e.g. weighting a crawl corpus by link centrality before sampling). The
reference has no graph surface at all; this is EXT.

Execution shape per iteration (fused Pregel-on-DataFrames):
  contribs = e_w ⋈ ranks  →  union(per-node zero rows)  →  groupBy id sum
with ``1/out_degree`` folded into the edge list ONCE at entry (column
``w``), so no per-round degree join exists at all. The union-with-zeros
replaces the old second join (ranks ⋈ contribs) — nodes with no incoming
edges survive the groupBy via their zero row, and the whole round is a
single aggregation exchange when the rank vector broadcasts (small rank
side), two when it must shuffle (the large-graph plan).

On the large-graph path the edge list is pre-partitioned on the per-round
join key (``src``) and localCheckpointed — the eager materialization
preserves the partitioning, so at 1000 executors the big side NEVER
re-shuffles across rounds; only the nodes-sized rank vector moves.
``localCheckpoint`` every few rounds also truncates lineage so round k's
plan does not replay rounds 1..k-1. Dangling mass (nodes with no
out-edges) is redistributed uniformly each round so ranks sum to 1 and
the result matches the textbook power iteration exactly.

TWO-REGIME, like connected components (operators/dedup.py): an 8-round
power iteration on a toy graph is pure per-round job latency — 8
broadcast builds + 8 aggregation exchanges to move a few hundred KB. So
below ``driver_max_edges`` the edge list is pulled to the driver once
(Arrow) and iterated with numpy bincount mat-vecs (C speed, exact same
math); above the gate the distributed loop runs, and tests force it via
``driver_max_edges=0``. The gate self-disables at scale: the count is
checked BEFORE any collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pagerank_driver(e: DataFrame, damping: float, n_iter: int) -> DataFrame:
    """Driver regime: numpy power iteration over the collected edge list.
    Identical semantics to the distributed loop (uniform dangling
    redistribution, fixed iteration count)."""
    import numpy as np

    pdf = e.toPandas()
    s = pdf["src"].to_numpy()
    d = pdf["dst"].to_numpy()
    ids, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
    si, di = inv[: len(s)], inv[len(s) :]
    n = len(ids)
    deg = np.bincount(si, minlength=n).astype("float64")
    dangling_mask = deg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        dangling = float(r[dangling_mask].sum()) if dangling_mask.any() else 0.0
        contrib = np.bincount(di, weights=r[si] / deg[si], minlength=n)
        r = (1.0 - damping) / n + damping * (contrib + dangling / n)
    import pandas as pd

    return e.sparkSession.createDataFrame(
        pd.DataFrame({"id": ids, "rank": r})
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 8,
    ckpt_every: int = 4,
    driver_max_edges: int = 5_000_000,
    ckpt_storage=None,
) -> DataFrame:
    """Power-iteration PageRank with uniform dangling redistribution.
    Returns (id, rank). Deterministic for a fixed iteration count — no
    convergence threshold, so two runs (and the numpy cross-check in
    tests) see the identical computation. Two-regime: edge lists at or
    below ``driver_max_edges`` iterate driver-side in numpy (a ~5M-edge
    list is ~80 MB — job-latency-free); larger graphs run the
    distributed Pregel loop (pass 0 to force it, as the tests do).

    ``ckpt_storage``: optional ``StorageLevel`` for the lineage-
    truncating checkpoints. Default (None) keeps localCheckpoint's
    MEMORY_AND_DISK — right when the graph fits the cluster's aggregate
    storage headroom. For a graph that approaches a single JVM's heap
    (the ×100 spot-check replicates 239M edges into one local[n]
    process), pass ``StorageLevel.DISK_ONLY``: on a real cluster no
    executor RAM-pins the whole static edge list either — each holds
    only its partition slice — and memory-pinned checkpoint blocks
    otherwise squeeze the unified pool until aggregations OOM."""
    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(True, ckpt_storage)

    # materialize the raw edge list FIRST: the gate count, out_deg, nodes
    # and e_w all consume it, and without this checkpoint each would
    # replay the caller's (possibly expensive) edge-construction lineage.
    e = _ckpt(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    from dumpty_spark.operators import telemetry

    if telemetry.two_regime("pagerank", e.count(), driver_max_edges):
        return _pagerank_driver(e, damping, n_iter)
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    nodes = _ckpt(nodes)
    n = nodes.count()
    will_broadcast = n < 5_000_000
    # fold 1/deg into the edge weight ONCE. On the large-graph path (rank
    # vector too big to broadcast) additionally pin the edge partitioning
    # on the per-round join key so the big side never re-shuffles across
    # rounds — only the rank vector moves. On the broadcast path the edge
    # partitioning is irrelevant (broadcast hash join streams e_w in
    # place) and the extra entry shuffle measurably HURTS at small scale
    # (A/B at sf0.1: 8.2s with vs 3.9s without), so skip it.
    e_w = e.join(F.broadcast(out_deg) if will_broadcast else out_deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
    )
    if not will_broadcast:
        e_w = e_w.repartition(par, "src")
    e_w = _ckpt(e_w)
    # Symmetric graphs (every undirected edge both ways — the common
    # similarity/co-occurrence case) have no dangling nodes; resolving the
    # dangling set once here saves a per-round driver action + job.
    dangling_ids = _ckpt(nodes.join(
        out_deg.select(F.col("src").alias("id")), "id", "left_anti"
    ))
    has_dangling = dangling_ids.limit(1).count() > 0
    ranks = _ckpt(nodes.select("id", F.lit(1.0 / n).alias("rank")))
    # per-node zero rows: keeps no-inbound nodes alive through the groupBy
    zeros = nodes.select("id", F.lit(0.0).alias("c"))
    # localCheckpoint drops size stats, so AQE can never pick the
    # broadcast join on its own — hint it while the rank table fits
    # comfortably in an executor (~24 B/row; 5M nodes ≈ 120 MB). Past
    # that, ranks shuffles on src each round — the correct large-graph
    # plan, and the only thing that moves (e_w stays put).
    hint = F.broadcast if will_broadcast else (lambda df: df)

    # the dangling set is O(no-out-degree nodes) — crawl/link graphs can
    # have hundreds of millions, so the semi-join broadcast gets the SAME
    # size guard as every other broadcast here (kcore uses the identical
    # bound); above it, the semi join shuffles — correct, just not hinted
    dangling_hint = (
        F.broadcast
        if has_dangling and dangling_ids.count() < 5_000_000
        else (lambda df: df)
    )

    for it in range(n_iter):
        # mass parked on dangling nodes, redistributed uniformly
        dangling = (
            ranks.join(dangling_hint(dangling_ids), "id", "semi")
            .agg(F.sum("rank"))
            .first()[0]
            or 0.0
        ) if has_dangling else 0.0
        contribs = (
            e_w.join(hint(ranks.withColumnRenamed("id", "src")), "src")
            .select(F.col("dst").alias("id"), (F.col("rank") * F.col("w")).alias("c"))
        )
        ranks = (
            contribs.union(zeros)
            .groupBy("id")
            .agg(F.sum("c").alias("c"))
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.col("c") + F.lit(dangling / n))
                ).alias("rank"),
            )
        )
        # truncating every round pays an eager materialization per
        # iteration; every ckpt_every rounds amortizes it while keeping
        # the replayed lineage bounded (measured 6.9s -> 5.1s at sf0.1)
        if (it + 1) % ckpt_every == 0 or it == n_iter - 1:
            ranks = _ckpt(ranks)
    return ranks.select("id", "rank")


def _lpa_driver(e: DataFrame, n_rounds: int) -> DataFrame:
    """Driver regime: numpy synchronous label propagation. Plurality
    vote with smallest-label tie-break, identical semantics to the
    distributed loop (and to the unrolled-CTE oracle)."""
    import numpy as np
    import pandas as pd

    pdf = e.toPandas()
    s = pdf["src"].to_numpy()
    d = pdf["dst"].to_numpy()
    ids, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
    si, di = inv[: len(s)], inv[len(s) :]
    n = len(ids)
    # labels are node INDICES; ids are sorted ascending, so index order
    # equals id order and the min-label tie-break is preserved
    lab = np.arange(n, dtype="int64")
    for _ in range(n_rounds):
        votes = di.astype("int64") * n + lab[si]
        keys, cnt = np.unique(votes, return_counts=True)
        vd, vl = keys // n, keys % n
        # plurality per dst, ties -> smallest label: sort by
        # (dst asc, count desc, label asc), take the first row per dst
        order = np.lexsort((vl, -cnt, vd))
        vd, vl = vd[order], vl[order]
        first = np.unique(vd, return_index=True)[1]
        new = lab.copy()
        new[vd[first]] = vl[first]
        lab = new
    return e.sparkSession.createDataFrame(
        pd.DataFrame({"id": ids, "label": ids[lab]})
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_rounds: int = 4,
    driver_max_edges: int = 5_000_000,
) -> DataFrame:
    """Synchronous label-propagation communities: every node starts as
    its own label; each round it adopts the plurality label among its
    in-neighbors (ties -> smallest label). Fixed round count keeps the
    run deterministic and SQL-unrollable. Returns (id, label).

    Two-regime like pagerank: at or below ``driver_max_edges`` the loop
    runs driver-side in numpy (vote counting is one lexsort per round —
    job-latency-free); larger graphs run the distributed loop: one
    edges⋈labels shuffle + a (node, label) vote rollup + a per-node
    plurality window per round, labels localCheckpointed so lineage
    stays flat. Pass 0 to force the distributed path (as tests do)."""
    from dumpty_spark.operators import telemetry

    spark = edges.sparkSession
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint()
    if telemetry.two_regime("label_propagation", e.count(), driver_max_edges):
        return _lpa_driver(e, n_rounds)
    labels = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint()
    )
    for _ in range(n_rounds):
        votes = (
            e.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"), "label")
            .agg(F.count("*").alias("c"))
        )
        # plurality pick via max_by instead of a row_number window
        # (r12, guide §2.3 — aggregate before you shuffle): the window
        # sort-shuffled the whole (node, label) vote frame with no
        # partial aggregation every round; max_by(label, (c, -label))
        # picks the identical label — max count, ties to the SMALLEST
        # label (max of -label) — through a map-side-combinable
        # aggregate keyed on id alone
        voted = (
            votes.groupBy("id")
            .agg(
                F.max_by(
                    "label", F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("label")
            )
        )
        # nodes with no in-edges keep their current label
        labels = (
            labels.select("id", F.col("label").alias("old"))
            .join(voted, "id", "left")
            .select(
                "id", F.coalesce(F.col("label"), F.col("old")).alias("label")
            )
            .localCheckpoint()
        )
    return labels

def _ppr_driver(
    e: DataFrame, seed_ids, damping: float, n_iter: int
) -> DataFrame:
    """Driver regime: numpy power iteration with a seed reset vector.
    Identical math to the distributed loop (restart mass 1-damping goes
    to the seeds each round; dangling mass also restarts at the seeds,
    the standard random-walk-with-restart convention)."""
    import numpy as np
    import pandas as pd

    pdf = e.toPandas()
    s = pdf["src"].to_numpy()
    d = pdf["dst"].to_numpy()
    ids, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
    si, di = inv[: len(s)], inv[len(s) :]
    n = len(ids)
    deg = np.bincount(si, minlength=n).astype("float64")
    dangling_mask = deg == 0
    reset = np.zeros(n)
    # membership-checked seed placement (ADVICE r6): a seed id absent
    # from the edge list must contribute NO reset mass — matching the
    # distributed path's isin semantics, where an off-graph seed never
    # appears in the node frame (its 1/len share of the restart mass is
    # simply lost) — not raise IndexError or land on a neighboring id.
    seed_arr = np.asarray(sorted(set(seed_ids)))
    seed_pos = np.searchsorted(ids, seed_arr)
    present = (seed_pos < n) & (ids[np.clip(seed_pos, 0, n - 1)] == seed_arr)
    reset[seed_pos[present]] = 1.0 / len(seed_ids)
    r = reset.copy()
    for _ in range(n_iter):
        dangling = float(r[dangling_mask].sum()) if dangling_mask.any() else 0.0
        contrib = np.bincount(di, weights=r[si] / deg[si], minlength=n)
        r = (1.0 - damping) * reset + damping * (contrib + dangling * reset)
    return e.sparkSession.createDataFrame(pd.DataFrame({"id": ids, "rank": r}))


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 6,
    ckpt_every: int = 3,
    driver_max_edges: int = 5_000_000,
) -> DataFrame:
    """Random-walk-with-restart (personalized PageRank) from a seed set:
    each round ``rank' = (1-d)*reset + d*(contrib + dangling*reset)``
    where ``reset`` is uniform over the seeds — the locality-biased
    centrality behind related-item / people-you-may-know surfaces.
    ``seeds`` is a 1-column (id) frame, assumed node-subset-sized.
    Returns (id, rank); non-seed nodes unreachable from the seeds get 0.

    Two-regime like :func:`pagerank` (same gate, tests force the
    distributed path with ``driver_max_edges=0``). The distributed loop
    moves only the rank vector each round: the degree-weighted edge list
    is checkpointed once, and the seed reset vector is a broadcast-sized
    constant frame, so at 1000 executors the per-round cost is one
    rank-vector shuffle — identical shape to the global pagerank loop.
    Deterministic for a fixed iteration count (no convergence test)."""
    spark = edges.sparkSession
    par = spark.sparkContext.defaultParallelism
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint()
    from dumpty_spark.operators import telemetry

    seed_list = [r[0] for r in seeds.select(seeds.columns[0]).collect()]
    if not seed_list:
        raise ValueError("personalized_pagerank: empty seed set")
    if telemetry.two_regime("personalized_pagerank", e.count(), driver_max_edges):
        return _ppr_driver(e, seed_list, damping, n_iter)
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    will_broadcast = n < 5_000_000
    e_w = e.join(F.broadcast(out_deg) if will_broadcast else out_deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
    )
    if not will_broadcast:
        e_w = e_w.repartition(par, "src")
    e_w = e_w.localCheckpoint()
    dangling_ids = nodes.join(
        out_deg.select(F.col("src").alias("id")), "id", "left_anti"
    ).localCheckpoint()
    has_dangling = dangling_ids.limit(1).count() > 0
    s_val = 1.0 / len(seed_list)
    # the reset vector as a Column: seeds are a driver-known literal set
    # (the caller's seed frame is tiny by contract), so no join is needed
    reset_col = F.when(F.col("id").isin(seed_list), F.lit(s_val)).otherwise(
        F.lit(0.0)
    )
    ranks = nodes.select("id", reset_col.alias("rank")).localCheckpoint()
    zeros = nodes.select("id", F.lit(0.0).alias("c"))
    hint = F.broadcast if will_broadcast else (lambda df: df)
    dangling_hint = (
        F.broadcast
        if has_dangling and dangling_ids.count() < 5_000_000
        else (lambda df: df)
    )
    for it in range(n_iter):
        dangling = (
            ranks.join(dangling_hint(dangling_ids), "id", "semi")
            .agg(F.sum("rank"))
            .first()[0]
            or 0.0
        ) if has_dangling else 0.0
        contribs = (
            e_w.join(hint(ranks.withColumnRenamed("id", "src")), "src")
            .select(F.col("dst").alias("id"), (F.col("rank") * F.col("w")).alias("c"))
        )
        ranks = (
            contribs.union(zeros)
            .groupBy("id")
            .agg(F.sum("c").alias("c"))
            .select(
                "id",
                (
                    F.lit(1.0 - damping) * reset_col
                    + F.lit(damping) * (F.col("c") + F.lit(dangling) * reset_col)
                ).alias("rank"),
            )
        )
        if (it + 1) % ckpt_every == 0 or it == n_iter - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select("id", "rank")


# ---------------------------------------------------------------------------
# Approximate neighborhood function (EXT E210) — ANF / HyperBall
# ---------------------------------------------------------------------------
# Palmer-Gibbons-Faloutsos ANF (KDD 2002) / Boldi-Vigna HyperBall: per
# node, K Flajolet-Martin bitmasks summarize the ball B(v, t); one
# round of "OR my neighbors' masks into mine" advances every ball
# radius by 1 simultaneously, so t rounds of ONE join + ONE
# bit_or-groupBy each give the whole neighborhood-function curve
# N(t) = Σ_v |B(v,t)| — the distributed way to estimate effective
# diameter / reachability on a graph whose exact BFS-from-every-node
# is |V| traversals. Merging is bitwise OR (associative, partial-agg
# map-side), state is K longs per node, and the FM hash here is the
# repo's portable md5 trick — every executor AND the SQL oracle set
# the exact same bits, so the whole curve is hash-checkable:
#   h_j(v)   = first 60 bits of md5(j || ':' || v)   (j = 0..K-1)
#   mask_j   = h & -h          (lowest set bit — geometric position)
#   R_j      = bit_count(m & ~(m+1))   (lowest ZERO bit of the OR)
#   |B(v,t)| ≈ 2^(mean_j R_j) / 0.77351        (FM correction)
# Estimates are integerized to 1e-4 units per node (BIGINT sums — no
# float-sum order dependence); the curve is exact-arithmetic
# reproducible at any cluster size.


def anf_estimates(
    edges_sym: DataFrame,
    rounds: int = 3,
    k_masks: int = 8,
    broadcast_max_nodes: int = 2_000_000,
    ckpt_storage=None,
) -> DataFrame:
    """Per (t, node) FM ball-size estimates for t = 0..rounds.

    ``edges_sym`` must be a symmetric (u, v) edge list. Returns
    (t, node, est_micro) where est_micro = round(1e4 * 2^(mean R)/phi).

    Two join regimes, the PageRank discipline: the mask frame is
    nodes-sized (K longs per node — ~2M nodes ≈ 130 MB), so below
    ``broadcast_max_nodes`` it BROADCASTS into the once-partitioned
    edge list and a round is one map-side join + one nodes-sized
    partial-agg shuffle (the big side never moves). Above the gate the
    join shuffles both sides on the once-partitioned key; masks still
    merge map-side via bit_or either way.
    """
    mcols = [f"m{j}" for j in range(k_masks)]

    def mask(j: int) -> F.Column:
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{j}:"), F.col("node").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        return h.bitwiseAND(-h).alias(f"m{j}")

    nodes = (
        edges_sym.select(F.col("u").alias("node"))
        .unionAll(edges_sym.select(F.col("v").alias("node")))
        .distinct()
    )
    from dumpty_spark.operators import telemetry

    # the regime gate, counted BEFORE any round
    small = telemetry.two_regime(
        "anf", nodes.count(), broadcast_max_nodes, small="broadcast"
    )
    cur = nodes.select("node", *[mask(j) for j in range(k_masks)])
    # self-loops let one union'd join carry both "keep my own mask"
    # and "absorb my neighbors'" through a single bit_or groupBy
    hop = edges_sym.select("u", "v").unionAll(
        nodes.select(F.col("node").alias("u"), F.col("node").alias("v"))
    )
    hop = hop.repartition("v").localCheckpoint(True, ckpt_storage)

    phi = 0.77351
    r_sum = sum(
        F.expr(f"bit_count({m} & ~({m} + 1))") for m in mcols
    )
    est = F.round(
        F.lit(10000.0) * F.pow(F.lit(2.0), r_sum / F.lit(float(k_masks)))
        / F.lit(phi),
        0,
    ).cast("long")

    outs = [cur.select(F.lit(0).alias("t"), "node", est.alias("est_micro"))]
    for t in range(1, rounds + 1):
        cur = (
            hop.join(F.broadcast(cur) if small else cur,
                     hop["v"] == cur["node"])
            .groupBy("u")
            .agg(*[F.expr(f"bit_or({m})").alias(m) for m in mcols])
            .withColumnRenamed("u", "node")
            .localCheckpoint(True, ckpt_storage)
        )
        outs.append(
            cur.select(F.lit(t).alias("t"), "node", est.alias("est_micro"))
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res
