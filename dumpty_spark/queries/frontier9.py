"""Round-6 engine extensions, fourth batch (EXT E143-E148): covariance
spectrum via in-plan power iteration, HLL set-overlap estimates with
exact envelope audit, categorical entropy profile, degree-distribution
tail index, time-to-convert percentiles, blocklist screening report.

Design rules shared by the batch: pure-Column / partial-agg plans,
iteration only over metadata-sized frames (the 64-dim covariance matrix
and eigenvector — constant size regardless of data scale), broadcast
everywhere a frame is value-/dimension-sized, and an exact DuckDB
oracle. Float portability: covariance entries and means are 6dp
pre-rounded and the power iteration is re-quantized at 9dp per round on
BOTH engines, so the sequential recursion cannot accumulate ulp drift
(the E112/E139 discipline applied to a matrix recursion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dumpty_spark.queries import register
from dumpty_spark.sources.parquet import load_table

# ---------------------------------------------------------------------------
# E143: covariance spectrum (top eigenpair) via in-plan power iteration
# ---------------------------------------------------------------------------
# Embedding-quality diagnostic: the dominant eigenvalue share of the
# covariance spectrum says how collapsed the representation is (a
# healthy space spreads variance; a collapsed one concentrates it).
# The covariance matrix is DIMENSION-sized (64x64 = 4096 doubles —
# constant at any corpus scale), so the spectral step is free once the
# one co-moment scan is done: 8 power-iteration rounds run IN-PLAN as
# chained joins over the 4096-row matrix frame with the 64-row vector
# broadcast, max-norm normalized and 9dp re-quantized per round so both
# engines walk the identical quantized trajectory. Upper-triangle
# aggregation halves the scan's shuffle; the oracle unrolls the same 8
# rounds as CTEs.

_SPEC_D = 64
_SPEC_ROUNDS = 8

_SPEC_HEAD = f"""
WITH x AS MATERIALIZED (
  SELECT vec_id, i - 1 AS i, e::DOUBLE AS v
  FROM (SELECT vec_id, unnest(embedding) AS e,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings)
),
n AS (SELECT COUNT(*)::DOUBLE AS n FROM embeddings),
mu AS MATERIALIZED (SELECT i, ROUND(SUM(v) / (SELECT n FROM n), 6) AS m
                    FROM x GROUP BY i),
m2 AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, SUM(a.v * b.v) AS s
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
),
ct AS MATERIALIZED (
  SELECT m2.i, m2.j,
         ROUND(m2.s / (SELECT n FROM n) - ma.m * mb.m, 6) AS c
  FROM m2 JOIN mu ma ON ma.i = m2.i JOIN mu mb ON mb.i = m2.j
),
cf AS MATERIALIZED (
  SELECT i, j, c FROM ct
  UNION ALL
  SELECT j AS i, i AS j, c FROM ct WHERE i < j
),
v0 AS MATERIALIZED (SELECT i AS j, 1.0::DOUBLE AS v FROM mu)"""


def _spec_oracle() -> str:
    steps = []
    for k in range(1, _SPEC_ROUNDS + 1):
        steps.append(
            f""",
w{k} AS MATERIALIZED (
  SELECT cf.i AS j, SUM(cf.c * p.v) AS v
  FROM cf JOIN v{k - 1} p ON p.j = cf.j
  GROUP BY cf.i
),
v{k} AS MATERIALIZED (
  SELECT j, ROUND(v / (SELECT MAX(ABS(v)) FROM w{k}), 9) AS v FROM w{k}
)"""
        )
    tail = f"""
SELECT ROUND(
         (SELECT SUM(cf.c * a.v * b.v)
          FROM cf JOIN v{_SPEC_ROUNDS} a ON a.j = cf.i
                  JOIN v{_SPEC_ROUNDS} b ON b.j = cf.j)
         / (SELECT SUM(v * v) FROM v{_SPEC_ROUNDS}), 4) AS top_eigenvalue,
       ROUND((SELECT SUM(c) FROM ct WHERE i = j), 4) AS trace,
       ROUND(
         (SELECT SUM(cf.c * a.v * b.v)
          FROM cf JOIN v{_SPEC_ROUNDS} a ON a.j = cf.i
                  JOIN v{_SPEC_ROUNDS} b ON b.j = cf.j)
         / (SELECT SUM(v * v) FROM v{_SPEC_ROUNDS})
         / (SELECT SUM(c) FROM ct WHERE i = j), 4) AS explained_share,
       (SELECT j FROM v{_SPEC_ROUNDS} ORDER BY ABS(v) DESC, j LIMIT 1)
         AS top_dim
"""
    return _SPEC_HEAD + "".join(steps) + tail


@register(
    "q_covariance_spectrum",
    oracle=_spec_oracle(),
    doc="covariance spectrum via power iteration (E143): dominant "
    "eigenvalue, trace and explained-variance share of the 64-dim "
    "embedding covariance — ONE upper-triangle co-moment scan builds the "
    "dimension-sized (constant at any corpus scale) matrix frame, then 8 "
    "max-norm power rounds run in-plan as broadcast joins, 9dp "
    "re-quantized per round so both engines walk the identical "
    "trajectory; the Rayleigh readout is exact on concentrated spectra "
    "and a certified lower bound on flat ones — explained_share near 1/d "
    "IS the healthy-isotropy signal the diagnostic exists to surface",
)
def q_covariance_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "v"),
    )
    nrow = emb.count()  # one metadata-cheap action; n is a plan constant
    mu = x.groupBy("i").agg(F.round(F.sum("v") / nrow, 6).alias("m"))
    # upper-triangle outer products exploded MAP-SIDE from each row's
    # array (no self-join: a vec_id shuffle join of the exploded frame
    # moved n*d^2 rows through an exchange — 20s at sf0.1; the explode
    # feeds partial aggregation in place and the only exchange is the
    # 2080-group final merge)
    from dumpty_spark.operators.util import ensure_parallelism

    # the outer-product explode is CPU-heavy per input byte while the
    # embedding table's file splits can be few — floor the parallelism
    # first (the AQE byte-based-coalescing class; tests/test_aqe_guards)
    m2 = (
        ensure_parallelism(emb.select("embedding"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(embedding, (xi, i) -> "
                    "transform(slice(embedding, i + 1, size(embedding) - i), "
                    "(xj, j) -> struct(i AS i, i + j AS j, "
                    "CAST(xi AS DOUBLE) * CAST(xj AS DOUBLE) AS p))))"
                )
            ).alias("e")
        )
        .groupBy(F.col("e.i").alias("i"), F.col("e.j").alias("j"))
        .agg(F.sum("e.p").alias("s"))
    )
    ct = (
        m2.join(mu.select(F.col("i"), F.col("m").alias("ma")), "i")
        .join(mu.select(F.col("i").alias("j"), F.col("m").alias("mb")), "j")
        .select(
            "i", "j", F.round(F.col("s") / nrow - F.col("ma") * F.col("mb"), 6).alias("c")
        )
        .localCheckpoint()  # dimension-sized (4096 rows); anchors 8 rounds
    )
    # Two-regime power iteration (r11 optimization, guide §5 — the
    # driver should do almost no data work, and a d×d matrix frame is
    # metadata, not data: 4096 rows at d=64, CONSTANT in corpus size).
    # The in-plan rounds cost ~3 driver actions each (broadcast build +
    # agg + checkpoint) at this host's ~0.3-0.5s/action floor — ~4s of
    # pure job latency for arithmetic that is microseconds. Same gate
    # discipline as the graph family: matrix-sized inputs iterate on the
    # driver with the IDENTICAL 9dp-requantized trajectory
    # (round_half_up replicates F.round's BigDecimal HALF_UP exactly);
    # huge d keeps the distributed loop, tests force it via
    # SPARK_GRAFT_FORCE_DISTRIBUTED.
    from dumpty_spark.operators import telemetry
    from dumpty_spark.operators.util import round_half_up

    n_ct = ct.count()  # cheap: ct is checkpointed; d(d+1)/2-sized
    degenerate = False
    if telemetry.two_regime("covariance_spectrum", n_ct, 200_000):
        import math

        ent = [(r["i"], r["j"], r["c"]) for r in ct.collect()]
        full = ent + [(j, i, c) for (i, j, c) in ent if i < j]
        # group the mat-vec terms per output row so each row sums with
        # math.fsum (exact summation, ADVICE r11 #2): the driver loop's
        # accumulation order can no longer diverge from the distributed
        # loop's partial-aggregation order at a HALF_UP boundary — the
        # residual assumption is only the distributed side's own
        # float-addition ordering, which the 6dp-rounded inputs and 9dp
        # per-round requantization keep away from boundaries in practice
        idx: dict = {}
        for i, j, c in full:
            idx.setdefault(i, []).append((j, c))
        dv = {i: 1.0 for i in idx}
        for _ in range(_SPEC_ROUNDS):
            w = {
                i: math.fsum(c * dv[j] for j, c in terms)
                for i, terms in idx.items()
            }
            mx = max(abs(x) for x in w.values())
            if mx == 0.0:
                # all-zero covariance (constant embeddings): the driver
                # division would raise while the distributed loop
                # propagates NaN/Inf through Java double division —
                # fall through to the distributed path so both regimes
                # agree on the degenerate input (ADVICE r11 #3)
                degenerate = True
                break
            dv = {j: round_half_up(x / mx, 9) for j, x in w.items()}
        if not degenerate:
            quad_v = math.fsum(c * dv[i] * dv[j] for i, j, c in full)
            vv_v = math.fsum(x * x for x in dv.values())
            tr_v = math.fsum(c for i, j, c in ent if i == j)
            top_v = min(dv.items(), key=lambda kv: (-abs(kv[1]), kv[0]))[0]
            return spark.createDataFrame(
                [
                    (
                        round_half_up(quad_v / vv_v, 4),
                        round_half_up(tr_v, 4),
                        round_half_up(quad_v / vv_v / tr_v, 4),
                        int(top_v),
                    )
                ],
                "top_eigenvalue double, trace double, explained_share double, "
                "top_dim int",
            )
        telemetry.record("covariance_spectrum", "distributed", n_ct)
    # mirror the upper triangle in ONE pass (a union with a transformed
    # self trips a Catalyst constraint-rewrite on checkpointed lineage)
    entry = F.struct(F.col("i"), F.col("j"), F.col("c"))
    mirrored = F.struct(
        F.col("j").alias("i"), F.col("i").alias("j"), F.col("c")
    )
    cf = (
        ct.select(
            F.explode(
                F.when(
                    F.col("i") < F.col("j"), F.array(entry, mirrored)
                ).otherwise(F.array(entry))
            ).alias("e")
        )
        .select("e.i", "e.j", "e.c")
        .localCheckpoint()
    )
    v = mu.select(F.col("i").alias("j"), F.lit(1.0).alias("v"))
    for _ in range(_SPEC_ROUNDS):
        w = (
            cf.join(F.broadcast(v), "j")
            .groupBy(F.col("i").alias("j"))
            .agg(F.sum(F.col("c") * F.col("v")).alias("v"))
        )
        mx = w.agg(F.max(F.abs(F.col("v"))).alias("mx"))
        # eager per-round truncation: without it round k replays rounds
        # 1..k-1 for every broadcast build (O(rounds^2) tiny jobs — the
        # 18s tail of the first committed version); each round is a
        # 64-row frame, so the checkpoint is metadata-priced
        v = (
            w.crossJoin(F.broadcast(mx))
            .select("j", F.round(F.col("v") / F.col("mx"), 9).alias("v"))
            .localCheckpoint()
        )
    quad = (
        cf.join(F.broadcast(v.select(F.col("j").alias("i"), F.col("v").alias("va"))), "i")
        .join(F.broadcast(v.select("j", F.col("v").alias("vb"))), "j")
        .agg(F.sum(F.col("c") * F.col("va") * F.col("vb")).alias("q"))
    )
    vv = v.agg(F.sum(F.col("v") * F.col("v")).alias("vv"))
    tr = ct.filter(F.col("i") == F.col("j")).agg(F.sum("c").alias("tr"))
    top = v.orderBy(F.desc(F.abs(F.col("v"))), "j").limit(1).select(
        F.col("j").alias("top_dim")
    )
    return (
        quad.crossJoin(F.broadcast(vv))
        .crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(top))
        .select(
            F.round(F.col("q") / F.col("vv"), 4).alias("top_eigenvalue"),
            F.round("tr", 4).alias("trace"),
            F.round(F.col("q") / F.col("vv") / F.col("tr"), 4).alias(
                "explained_share"
            ),
            "top_dim",
        )
    )


# ---------------------------------------------------------------------------
# E144: HLL set-overlap estimates + exact envelope audit
# ---------------------------------------------------------------------------
# Audience-overlap at 100 TB: per event-type pair, |A∩B| estimated from
# three mergeable HLL sketches (A, B, A∪B via hll_union) and
# inclusion-exclusion — the sketches are what a production deployment
# stores per segment (constant memory, mergeable across partitions and
# days; same contract as the E45 HLL store). The hashed surface is the
# EXACT overlap (recomputed by both engines) plus a boolean asserting
# the sketch estimate landed inside 4 combined sigmas (lgConfigK=14 →
# rsd 1.04/sqrt(2^14) ≈ 0.81%; three estimates compound, each scaled by
# its own set size) — the q_approx_distinct_check pattern applied to
# set ALGEBRA rather than single cardinalities.

_HLL_OVERLAP_ORACLE = """
WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.user_id AS ua, b.user_id AS ub
  FROM tu a JOIN tu b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
),
ex AS (
  SELECT type_a, type_b, COUNT(*)::BIGINT AS exact_overlap
  FROM p GROUP BY 1, 2
),
card AS (SELECT event_type, COUNT(*)::BIGINT AS n FROM tu GROUP BY 1)
SELECT e.type_a, e.type_b,
       ca.n AS exact_a, cb.n AS exact_b,
       (ca.n + cb.n - e.exact_overlap)::BIGINT AS exact_union,
       e.exact_overlap,
       TRUE AS in_envelope
FROM ex e
JOIN card ca ON ca.event_type = e.type_a
JOIN card cb ON cb.event_type = e.type_b
ORDER BY e.type_a, e.type_b
"""


@register(
    "q_hll_overlap",
    oracle=_HLL_OVERLAP_ORACLE,
    doc="HLL set-overlap audit (E144): per event-type pair, the user-set "
    "intersection estimated by inclusion-exclusion over three mergeable "
    "HLL sketches (per-type + hll_union merge, lgConfigK=14) against the "
    "exact overlap both engines recompute — boolean asserts the estimate "
    "within 4 compounded sigmas; the mergeable audience-overlap pattern "
    "that replaces exact distinct joins at 100 TB",
)
def q_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct().localCheckpoint()
    sk = tu.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.count("*").alias("n"),
    )
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("n").alias("exact_a"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("n").alias("exact_b"),
    )
    # 5 types -> 10 pairs: a types-sized broadcast self-join
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    ex = (
        tu.alias("x")
        .join(
            tu.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("exact_overlap"))
    )
    rsd = 1.04 / (2.0 ** 7)  # 1.04 / sqrt(2^14)
    est = pairs.select(
        "type_a",
        "type_b",
        "exact_a",
        "exact_b",
        F.hll_sketch_estimate("sk_a").alias("est_a"),
        F.hll_sketch_estimate("sk_b").alias("est_b"),
        F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).alias("est_u"),
    )
    return (
        est.join(ex, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "exact_a",
            "exact_b",
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_overlap"))
            .cast("long")
            .alias("exact_union"),
            "exact_overlap",
            (
                F.abs(
                    (F.col("est_a") + F.col("est_b") - F.col("est_u"))
                    - F.col("exact_overlap")
                )
                <= F.lit(4.0 * rsd)
                * (F.col("est_a") + F.col("est_b") + F.col("est_u"))
            ).alias("in_envelope"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# E145: categorical entropy profile
# ---------------------------------------------------------------------------
# The column-profiler companion (E20 profiles numerics): for every
# categorical column the dataset card needs Shannon entropy, normalized
# entropy (vs uniform), Gini impurity and the majority share — the
# imbalance diagnostics that decide stratification and sampling
# temperature. One grouped pass per column; value tables are
# category-sized so every downstream agg is metadata work. Exact
# fractions p = n_v/n (identical division both engines), entropies are
# sums over <=10 terms rounded at 6dp.

_ENTROPY_ORACLE = """
WITH cols AS (
  SELECT 'events.event_type' AS col, event_type AS val FROM events
  UNION ALL SELECT 'documents.lang', lang FROM documents
  UNION ALL SELECT 'documents.source', source FROM documents
  UNION ALL SELECT 'orders.o_orderstatus', o_orderstatus FROM orders
  UNION ALL SELECT 'orders.o_orderpriority', o_orderpriority FROM orders
),
vc AS (SELECT col, val, COUNT(*)::BIGINT AS n_v FROM cols GROUP BY 1, 2),
tot AS (SELECT col, SUM(n_v)::DOUBLE AS n, COUNT(*)::BIGINT AS k
        FROM vc GROUP BY 1)
SELECT v.col, ANY_VALUE(t.k) AS n_distinct,
       ROUND(SUM(-(v.n_v / t.n) * LN(v.n_v / t.n)), 6) AS entropy,
       ROUND(
         CASE WHEN ANY_VALUE(t.k) = 1 THEN 0.0::DOUBLE
              ELSE SUM(-(v.n_v / t.n) * LN(v.n_v / t.n))
                   / LN(ANY_VALUE(t.k)) END, 6) AS norm_entropy,
       ROUND(1.0 - SUM((v.n_v / t.n) * (v.n_v / t.n)), 6) AS gini,
       ROUND(MAX(v.n_v) / ANY_VALUE(t.n), 6) AS top_share
FROM vc v JOIN tot t ON t.col = v.col
GROUP BY v.col
ORDER BY v.col
"""


@register(
    "q_categorical_entropy",
    oracle=_ENTROPY_ORACLE,
    doc="categorical entropy profile (E145): Shannon entropy, normalized "
    "entropy, Gini impurity and majority share for every categorical "
    "column across the schema — the imbalance diagnostics behind "
    "stratification and mixing-temperature choices; one grouped pass per "
    "column, all downstream aggs over category-sized value tables",
)
def q_categorical_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    cols = (
        ev.select(F.lit("events.event_type").alias("col"), F.col("event_type").alias("val"))
        .unionAll(docs.select(F.lit("documents.lang"), F.col("lang")))
        .unionAll(docs.select(F.lit("documents.source"), F.col("source")))
        .unionAll(orders.select(F.lit("orders.o_orderstatus"), F.col("o_orderstatus")))
        .unionAll(orders.select(F.lit("orders.o_orderpriority"), F.col("o_orderpriority")))
    )
    vc = cols.groupBy("col", "val").agg(F.count("*").alias("n_v"))
    tot = vc.groupBy("col").agg(
        F.sum("n_v").cast("double").alias("n"), F.count("*").alias("k")
    )
    p = F.col("n_v") / F.col("n")
    return (
        vc.join(F.broadcast(tot), "col")
        .groupBy("col")
        .agg(
            F.any_value("k").alias("n_distinct"),
            F.round(F.sum(-p * F.log(p)), 6).alias("entropy"),
            F.round(
                F.when(F.any_value("k") == 1, F.lit(0.0)).otherwise(
                    F.sum(-p * F.log(p)) / F.log(F.any_value("k").cast("double"))
                ),
                6,
            ).alias("norm_entropy"),
            F.round(F.lit(1.0) - F.sum(p * p), 6).alias("gini"),
            F.round(F.max("n_v") / F.any_value("n"), 6).alias("top_share"),
        )
        .orderBy("col")
    )


# ---------------------------------------------------------------------------
# E146: degree-distribution report + Hill tail index
# ---------------------------------------------------------------------------
# Scale-free-ness is the planning input for every graph operator above
# (hub caps, skew salting): report the co-purchase degree distribution's
# exact p50/p90/p99 via the integer-CDF method (degree-VALUE rollup +
# running coverage — no per-node sort, portable with no interpolation
# ambiguity) and the Hill estimator over the top-100 degrees,
# alpha = k / sum ln(d_(i)/d_(k)) — the tail exponent that says how bad
# the hubs get at 100x.

_DEGREE_TAIL_K = 100

_DEGREE_TAIL_ORACLE = f"""
WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, COUNT(*)::BIGINT AS d
  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
  GROUP BY node
),
nn AS (SELECT COUNT(*)::BIGINT AS n_nodes, MAX(d) AS max_d,
              SUM(d)::DOUBLE / COUNT(*) AS mean_d
       FROM deg),
dv AS (SELECT d, COUNT(*)::BIGINT AS c FROM deg GROUP BY d),
cum AS (
  SELECT d, SUM(c) OVER (ORDER BY d) AS cov, (SELECT n_nodes FROM nn) AS n
  FROM dv
),
q AS (
  SELECT
    MIN(CASE WHEN cov >= 0.50 * n THEN d END) AS p50,
    MIN(CASE WHEN cov >= 0.90 * n THEN d END) AS p90,
    MIN(CASE WHEN cov >= 0.99 * n THEN d END) AS p99
  FROM cum
),
topk AS (
  SELECT d FROM deg ORDER BY d DESC, node LIMIT {_DEGREE_TAIL_K}
),
dk AS (SELECT MIN(d)::DOUBLE AS dmin FROM topk),
hill AS (
  SELECT {_DEGREE_TAIL_K} / SUM(LN(d / dk.dmin)) AS alpha
  FROM topk, dk WHERE d > dk.dmin
)
SELECT nn.n_nodes, nn.max_d, ROUND(nn.mean_d, 4) AS mean_degree,
       q.p50, q.p90, q.p99,
       ROUND(hill.alpha, 4) AS hill_alpha
FROM nn, q, hill
"""


@register(
    "q_degree_tail",
    oracle=_DEGREE_TAIL_ORACLE,
    doc="degree-distribution tail report (E146): exact p50/p90/p99 "
    "degree via the integer-CDF method (degree-value rollup + running "
    "coverage — no per-node sort), max/mean degree, and the Hill tail "
    "index over the top-100 degrees — the scale-free-ness planning "
    "input behind hub caps and skew salting",
)
def q_degree_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dumpty_spark.queries.shared_graph import copurchase_pairs

    pairs = copurchase_pairs(spark, sf_dir)
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
        .localCheckpoint()
    )
    nn = deg.agg(
        F.count("*").alias("n_nodes"),
        F.max("d").alias("max_d"),
        (F.sum("d").cast("double") / F.count("*")).alias("mean_d"),
    )
    dv = deg.groupBy("d").agg(F.count("*").alias("c"))
    # the degree-VALUE table is tiny (distinct degrees), so the running
    # coverage window is metadata work — never a per-node sort
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = dv.select("d", F.sum("c").over(wcum).alias("cov")).crossJoin(
        F.broadcast(nn.select(F.col("n_nodes").alias("n")))
    )
    q = cum.agg(
        F.min(F.when(F.col("cov") >= 0.50 * F.col("n"), F.col("d"))).alias("p50"),
        F.min(F.when(F.col("cov") >= 0.90 * F.col("n"), F.col("d"))).alias("p90"),
        F.min(F.when(F.col("cov") >= 0.99 * F.col("n"), F.col("d"))).alias("p99"),
    )
    topk = deg.orderBy(F.desc("d"), "node").limit(_DEGREE_TAIL_K).select("d")
    dk = topk.agg(F.min("d").cast("double").alias("dmin"))
    hill = (
        topk.crossJoin(F.broadcast(dk))
        .filter(F.col("d") > F.col("dmin"))
        .agg(
            (F.lit(float(_DEGREE_TAIL_K)) / F.sum(F.log(F.col("d") / F.col("dmin"))))
            .alias("alpha")
        )
    )
    return (
        nn.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(hill))
        .select(
            "n_nodes",
            "max_d",
            F.round("mean_d", 4).alias("mean_degree"),
            "p50",
            "p90",
            "p99",
            F.round("alpha", 4).alias("hill_alpha"),
        )
    )


# ---------------------------------------------------------------------------
# E147: time-to-convert percentiles
# ---------------------------------------------------------------------------
# Funnel latency: minutes from a user's FIRST view to their FIRST
# purchase (converters only, purchase strictly after the view).
# Durations are floored integer minutes, so percentiles go through the
# same integer-CDF method as E146 — exact, interpolation-free and
# portable. One grouped pass over events + a duration-value rollup.

_TTC_ORACLE = """
WITH f AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_buy
  FROM events GROUP BY user_id
),
conv AS (
  SELECT FLOOR(EPOCH(first_buy - first_view) / 60)::BIGINT AS mins
  FROM f
  WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
    AND first_buy > first_view
),
nn AS (SELECT COUNT(*)::BIGINT AS n_converters,
              ROUND(AVG(mins), 4) AS mean_mins FROM conv),
dv AS (SELECT mins, COUNT(*)::BIGINT AS c FROM conv GROUP BY mins),
cum AS (
  SELECT mins, SUM(c) OVER (ORDER BY mins) AS cov,
         (SELECT n_converters FROM nn) AS n
  FROM dv
)
SELECT nn.n_converters, nn.mean_mins,
       (SELECT MIN(CASE WHEN cov >= 0.50 * n THEN mins END) FROM cum) AS p50_mins,
       (SELECT MIN(CASE WHEN cov >= 0.90 * n THEN mins END) FROM cum) AS p90_mins,
       (SELECT MIN(CASE WHEN cov >= 0.99 * n THEN mins END) FROM cum) AS p99_mins
FROM nn
"""


@register(
    "q_time_to_convert",
    oracle=_TTC_ORACLE,
    doc="time-to-convert report (E147): minutes from each user's first "
    "view to their first purchase (strictly later), exact p50/p90/p99 "
    "via the integer-CDF method over floored-minute durations — one "
    "user-grouped pass, duration-value rollup, no per-user sort",
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fb"),
    )
    conv = (
        f.filter(
            F.col("fv").isNotNull()
            & F.col("fb").isNotNull()
            & (F.col("fb") > F.col("fv"))
        )
        .select(
            # timestamp -> double keeps fractional seconds (unix_timestamp
            # would truncate and disagree with DuckDB's EPOCH(interval));
            # the intermediate timestamp cast makes it NTZ-safe — events.ts
            # arrives as TIMESTAMP_NTZ from the nanos normalization and
            # NTZ has no direct double cast (session is pinned UTC, so the
            # hop is value-preserving)
            F.floor(
                (
                    F.col("fb").cast("timestamp").cast("double")
                    - F.col("fv").cast("timestamp").cast("double")
                )
                / 60
            )
            .cast("long")
            .alias("mins")
        )
        .localCheckpoint()
    )
    nn = conv.agg(
        F.count("*").alias("n_converters"),
        F.round(F.avg("mins"), 4).alias("mean_mins"),
    )
    dv = conv.groupBy("mins").agg(F.count("*").alias("c"))
    wcum = Window.orderBy("mins").rowsBetween(Window.unboundedPreceding, 0)
    cum = dv.select("mins", F.sum("c").over(wcum).alias("cov")).crossJoin(
        F.broadcast(nn.select(F.col("n_converters").alias("n")))
    )
    q = cum.agg(
        F.min(F.when(F.col("cov") >= 0.50 * F.col("n"), F.col("mins"))).alias(
            "p50_mins"
        ),
        F.min(F.when(F.col("cov") >= 0.90 * F.col("n"), F.col("mins"))).alias(
            "p90_mins"
        ),
        F.min(F.when(F.col("cov") >= 0.99 * F.col("n"), F.col("mins"))).alias(
            "p99_mins"
        ),
    )
    return nn.crossJoin(F.broadcast(q)).select(
        "n_converters", "mean_mins", "p50_mins", "p90_mins", "p99_mins"
    )


# ---------------------------------------------------------------------------
# E148: blocklist screening report
# ---------------------------------------------------------------------------
# The first curation gate on any crawled corpus: per source, how much
# of the data trips a term blocklist, and which terms dominate. Token-
# boundary matching via the SHARED tokenizer (never substring — "slow"
# must not flag "slowly" is the whole point of tokenized screening),
# array-intersect per doc against the broadcast-literal list; per-term
# rows plus an __any__ rollup per source. Swap the 5-term literal list
# for a lexicon table at scale — the plan shape (token-set intersect,
# doc-sized rollups) is the operator.

_BLOCKLIST = ["slow", "error", "crash", "leak", "deadlock"]

_BLOCKLIST_SQL = "[" + ", ".join(f"'{t}'" for t in _BLOCKLIST) + "]"

_BLOCK_ORACLE = f"""
WITH tok AS (
  SELECT source,
         list_distinct(
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x != '')) AS toks
  FROM documents
),
hits AS (
  SELECT source, toks,
         list_filter({_BLOCKLIST_SQL}, t -> list_contains(toks, t)) AS hit
  FROM tok
),
per_term AS (
  SELECT source, unnest(hit) AS term FROM hits
),
term_rows AS (
  SELECT source, term, COUNT(*)::BIGINT AS n_docs_hit
  FROM per_term GROUP BY 1, 2
),
any_rows AS (
  SELECT source, '__any__' AS term,
         SUM(CASE WHEN len(hit) > 0 THEN 1 ELSE 0 END)::BIGINT AS n_docs_hit
  FROM hits GROUP BY source
),
tot AS (SELECT source, COUNT(*)::BIGINT AS n_docs FROM tok GROUP BY source)
SELECT u.source, u.term, u.n_docs_hit, t.n_docs,
       ROUND(u.n_docs_hit::DOUBLE / t.n_docs, 6) AS hit_rate
FROM (SELECT * FROM term_rows UNION ALL SELECT * FROM any_rows) u
JOIN tot t ON t.source = u.source
ORDER BY u.source, u.term
"""


@register(
    "q_blocklist_screen",
    oracle=_BLOCK_ORACLE,
    doc="blocklist screening report (E148): per (source, term) document "
    "hit counts and rates plus a per-source __any__ rollup — token-"
    "boundary matching via the shared tokenizer (array-intersect against "
    "the broadcast term list, never substring), the first curation gate "
    "on a crawled corpus",
)
def q_blocklist_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dumpty_spark.functions import text as X

    docs = load_table(spark, sf_dir, "documents")
    terms = F.array(*[F.lit(t) for t in _BLOCKLIST])
    tok = docs.select(
        "source", F.array_distinct(X.words("text")).alias("toks")
    )
    hits = tok.select(
        "source",
        F.filter(terms, lambda t: F.array_contains(F.col("toks"), t)).alias(
            "hit"
        ),
    ).localCheckpoint()  # one tokenize pass feeds both rollups
    term_rows = (
        hits.select("source", F.explode("hit").alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("n_docs_hit"))
    )
    any_rows = hits.groupBy("source").agg(
        F.sum((F.size("hit") > 0).cast("int")).alias("n_docs_hit")
    ).select("source", F.lit("__any__").alias("term"), "n_docs_hit")
    tot = hits.groupBy("source").agg(F.count("*").alias("n_docs"))
    return (
        term_rows.unionAll(any_rows)
        .join(F.broadcast(tot), "source")
        .select(
            "source",
            "term",
            "n_docs_hit",
            "n_docs",
            F.round(F.col("n_docs_hit").cast("double") / F.col("n_docs"), 6).alias(
                "hit_rate"
            ),
        )
        .orderBy("source", "term")
    )
