"""Unit + plan tests for the round-6 third batch (queries/frontier8.py,
E137-E142): hand-sized fixtures with independently derivable answers
driven through the REAL registered query code via a load_table
monkeypatch, regime-equality for the new PPR operator, and the physical-
plan assertions each query's doc claims (hub-cap broadcast for
Adamic-Adar, user-partitioned windows for attribution, no cartesian or
single-partition exchange anywhere)."""

from __future__ import annotations

import datetime as dt
import math

import pyspark.sql.functions as F
import pytest

from dumpty_spark.queries import REGISTRY
from tests.test_plans import plan_of


def _fake_loader(frames: dict):
    def load_table(spark, sf_dir, name):
        return frames[name]

    return load_table


# ---------------------------------------------------------------------------
# E137 personalized PageRank
# ---------------------------------------------------------------------------
def _numpy_ppr(edges, seeds, damping, n_iter):
    import numpy as np

    ids = sorted({u for e in edges for u in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    deg = np.zeros(n)
    for s, _ in edges:
        deg[idx[s]] += 1
    reset = np.zeros(n)
    for s in seeds:
        reset[idx[s]] = 1.0 / len(seeds)
    r = reset.copy()
    for _ in range(n_iter):
        dangling = float(r[deg == 0].sum())
        contrib = np.zeros(n)
        for s, d in edges:
            contrib[idx[d]] += r[idx[s]] / deg[idx[s]]
        r = (1.0 - damping) * reset + damping * (contrib + dangling * reset)
    return {v: r[idx[v]] for v in ids}


@pytest.mark.parametrize("driver_max_edges", [5_000_000, 0])
def test_ppr_matches_numpy(spark, driver_max_edges):
    """Directed graph with a dangling node: both regimes match the
    textbook restart iteration to 1e-12, and mass stays on the walk
    (sums to 1 — dangling mass restarts at the seeds)."""
    from dumpty_spark.operators.graph import personalized_pagerank

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (5, 1), (2, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["id"])
    got = {
        r["id"]: r["rank"]
        for r in personalized_pagerank(
            df, seeds, damping=0.75, n_iter=6, driver_max_edges=driver_max_edges
        ).collect()
    }
    want = _numpy_ppr(edges, [1], 0.75, 6)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_ppr_concentrates_near_seed(spark):
    """Locality contract: on a path graph seeded at one end, the seed
    ranks highest and every node within 2 hops outranks every node 4+
    hops away (hop-adjacent ranks oscillate with walk parity, so the
    assertion compares the near half against the far half)."""
    from dumpty_spark.operators.graph import personalized_pagerank

    path = [(i, i + 1) for i in range(6)] + [(i + 1, i) for i in range(6)]
    df = spark.createDataFrame(path, ["src", "dst"])
    seeds = spark.createDataFrame([(0,)], ["id"])
    got = {
        r["id"]: r["rank"]
        for r in personalized_pagerank(df, seeds, n_iter=8).collect()
    }
    ranks = [got[i] for i in range(7)]
    assert ranks[0] == max(ranks)
    assert min(ranks[:3]) > max(ranks[4:])


def test_ppr_empty_seeds_raises(spark):
    from dumpty_spark.operators.graph import personalized_pagerank

    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError):
        personalized_pagerank(df, spark.createDataFrame([], "id long"))


def test_ppr_query_seeds_are_top_degree(spark, sf_smoke):
    """The registered query's is_seed rows must be exactly the 5
    highest-degree parts of the co-purchase graph."""
    from dumpty_spark.queries.shared_graph import copurchase_symmetric

    rows = REGISTRY["q_personalized_pagerank"].fn(spark, sf_smoke).collect()
    got_seeds = {r["part"] for r in rows if r["is_seed"]}
    deg = (
        copurchase_symmetric(spark, sf_smoke)
        .groupBy(F.col("u").alias("id"))
        .agg(F.count("*").alias("d"))
        .orderBy(F.desc("d"), F.asc("id"))
        .limit(5)
        .collect()
    )
    want = {r["id"] for r in deg}
    # all 5 seeds carry restart mass, so all must appear in the top-30
    assert got_seeds == want


# ---------------------------------------------------------------------------
# E138 Adamic-Adar
# ---------------------------------------------------------------------------
def test_adamic_adar_fixture(spark, monkeypatch):
    """Baskets {1,2} and {2,3}: the only non-edge with a common
    neighbor is (1,3) through center 2 (degree 2) — score 1/ln 2."""
    import dumpty_spark.queries.frontier8 as f8
    from dumpty_spark.queries import shared_graph
    from dumpty_spark.session import forget

    li = spark.createDataFrame(
        [(10, 1), (10, 2), (20, 2), (20, 3)], ["l_orderkey", "l_partkey"]
    )
    monkeypatch.setattr(shared_graph, "load_table", _fake_loader({"lineitem": li}))
    forget("pairs", "fixture")
    try:
        rows = f8.q_adamic_adar(spark, "fixture").collect()
    finally:
        forget("pairs", "fixture")
    assert len(rows) == 1
    r = rows[0]
    assert (r["u"], r["v"], r["n_common"]) == (1, 3, 1)
    assert r["aa_score"] == pytest.approx(round(1.0 / math.log(2.0), 6))


def test_adamic_adar_hub_capped(spark, monkeypatch):
    """A 70-degree hub may not serve as a wedge center: leaves sharing
    only the hub produce NO predicted links (the df-cap discipline)."""
    import dumpty_spark.queries.frontier8 as f8
    from dumpty_spark.queries import shared_graph
    from dumpty_spark.session import forget

    rows = [(100 + i, 9999) for i in range(70)] + [
        (100 + i, 100 + i) for i in range(70)
    ]
    li = spark.createDataFrame(
        [(o, p) for o, p in rows], ["l_orderkey", "l_partkey"]
    )
    monkeypatch.setattr(shared_graph, "load_table", _fake_loader({"lineitem": li}))
    forget("pairs", "fixture")
    try:
        got = f8.q_adamic_adar(spark, "fixture").collect()
    finally:
        forget("pairs", "fixture")
    assert got == []


def test_adamic_adar_plan(spark, sf_smoke):
    """The hub-capped center frame is node-sized and must ride a
    broadcast join onto the edges; no cartesian product anywhere."""
    plan = plan_of(REGISTRY["q_adamic_adar"].fn(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# E139 Holt linear-trend smoothing
# ---------------------------------------------------------------------------
def _holt(ys, alpha=0.3, beta=0.1):
    level, b, sse = ys[0], ys[1] - ys[0], 0.0
    for y in ys[1:]:
        f = level + b
        sse += (y - f) * (y - f)
        l_new = alpha * y + (1 - alpha) * (level + b)
        b = beta * (l_new - level) + (1 - beta) * b
        level = l_new
    return level, b, sse


def test_holt_fixture(spark, monkeypatch):
    """4-day single series with one event per day (daily mean = value):
    output matches the hand recursion, including the 7-day forecast and
    the RMSE over the n-1 one-step errors."""
    import dumpty_spark.queries.frontier8 as f8

    ys = [10.0, 12.0, 15.0, 13.0]
    ev = spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1 + i), 1, "click", y, "{}")
            for i, y in enumerate(ys)
        ],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    monkeypatch.setattr(f8, "load_table", _fake_loader({"events": ev}))
    rows = f8.q_holt_trend(spark, "fixture").collect()
    assert len(rows) == 1
    r = rows[0]
    level, b, sse = _holt(ys)
    assert r["n_days"] == 4
    assert r["level"] == pytest.approx(round(level, 4))
    assert r["trend"] == pytest.approx(round(b, 4))
    assert r["forecast_7d"] == pytest.approx(round(level + 7 * b, 4))
    assert r["rmse"] == pytest.approx(round(math.sqrt(sse / 3), 4))


def test_holt_single_day_series_dropped(spark, monkeypatch):
    """A series needs two observations to initialize the trend."""
    import dumpty_spark.queries.frontier8 as f8

    ev = spark.createDataFrame(
        [(0, dt.datetime(2024, 1, 1), 1, "solo", 5.0, "{}")],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    monkeypatch.setattr(f8, "load_table", _fake_loader({"events": ev}))
    assert f8.q_holt_trend(spark, "fixture").collect() == []


def test_holt_plan_no_window_no_python(spark, sf_smoke):
    """The per-series fold is a pure-Column F.aggregate over one grouped
    collect — no window operator, no Python evaluation."""
    plan = plan_of(REGISTRY["q_holt_trend"].fn(spark, sf_smoke))
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# E140 Kneser-Ney bigram LM
# ---------------------------------------------------------------------------
def test_kneser_ney_fixture(spark, monkeypatch):
    """Corpus 'a b a b' + 'b c': hand-computed interpolated-KN log2
    probabilities (D=.75) for every bigram, token-weighted per lang."""
    import dumpty_spark.queries.frontier8 as f8

    docs = spark.createDataFrame(
        [(1, "a b a b", "en", "s1", 7), (2, "b c", "fr", "s1", 3)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    monkeypatch.setattr(f8, "load_table", _fake_loader({"documents": docs}))
    rows = {r["lang"]: r for r in f8.q_kneser_ney(spark, "fixture").collect()}
    # bigrams: en: (a,b) x2, (b,a) x1; fr: (b,c) x1
    # types: (a,b) n=2, (b,a) n=1, (b,c) n=1 -> B=3
    # c(a)=2, N1+(a,.)=1 ; c(b)=2, N1+(b,.)=2
    # N1+(.,b)=1, N1+(.,a)=1, N1+(.,c)=1
    d, B = 0.75, 3.0
    p_ab = (2 - d) / 2 + d * 1 / 2 * (1 / B)
    p_ba = (1 - d) / 2 + d * 2 / 2 * (1 / B)
    p_bc = (1 - d) / 2 + d * 2 / 2 * (1 / B)
    en = (2 * math.log2(p_ab) + 1 * math.log2(p_ba)) / 3
    fr = math.log2(p_bc)
    assert rows["en"]["n_bigrams"] == 3 and rows["en"]["n_types"] == 2
    assert rows["fr"]["n_bigrams"] == 1 and rows["fr"]["n_types"] == 1
    assert rows["en"]["avg_log2p"] == pytest.approx(round(en, 4))
    assert rows["fr"]["avg_log2p"] == pytest.approx(round(fr, 4))
    assert rows["fr"]["perplexity"] == pytest.approx(round(2.0 ** -fr, 4))


def test_kneser_ney_probabilities_sum_below_one(spark, sf_smoke):
    """Model sanity on real data: per context w1, the sum of smoothed
    P(w2|w1) over SEEN continuations must stay in (0, 1] — the discount
    reserves mass, it never over-allocates."""
    from dumpty_spark.functions import text as X
    from dumpty_spark.sources.parquet import load_table

    docs = load_table(spark, sf_smoke, "documents")
    toks = docs.select(X.words("text").alias("t")).filter(F.size("t") >= 2)
    bg = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t") - 1),
            )
        ).alias("z")
    ).select(F.col("z")["0"].alias("w1"), F.col("z")["1"].alias("w2"))
    cg = bg.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    c1 = cg.groupBy("w1").agg(
        F.sum("n").alias("c_w1"), F.count("*").alias("n1p_fwd")
    )
    cont = cg.groupBy("w2").agg(F.count("*").alias("n1p_bwd"))
    b = cg.count()
    p = (
        cg.join(c1, "w1")
        .join(cont, "w2")
        .select(
            "w1",
            (
                (F.col("n") - F.lit(0.75)) / F.col("c_w1")
                + F.lit(0.75)
                * F.col("n1p_fwd")
                / F.col("c_w1")
                * (F.col("n1p_bwd") / F.lit(float(b)))
            ).alias("p"),
        )
    )
    agg = p.groupBy("w1").agg(F.sum("p").alias("s")).agg(
        F.max("s").alias("mx"), F.min("s").alias("mn")
    ).first()
    assert 0.0 < agg["mn"] and agg["mx"] <= 1.0 + 1e-9


# ---------------------------------------------------------------------------
# E141 calibration bins
# ---------------------------------------------------------------------------
def test_calibration_fixture(spark, monkeypatch):
    """Hand-recomputed logistic scores and bins on a 6-doc fixture:
    per-bin counts, empirical rates, ECE and Brier all match."""
    import dumpty_spark.queries.frontier8 as f8

    rows = [
        (1, "x", "en", "s", 100),
        (2, "x", "en", "s", 200),
        (3, "x", "fr", "s", 300),
        (4, "x", "fr", "s", 400),
        (5, "x", "en", "s", 500),
        (6, "x", "de", "s", 600),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    monkeypatch.setattr(f8, "load_table", _fake_loader({"documents": docs}))
    got = f8.q_calibration_bins(spark, "fixture").collect()

    xs = [r[4] for r in rows]
    mu = round(sum(xs) / len(xs), 6)
    sd = round(math.sqrt(sum((x - mu) ** 2 for x in xs) / len(xs)), 6)
    scored = [
        (1.0 / (1.0 + math.exp(-round((x - mu) / sd, 6))), 1 if r[2] == "en" else 0)
        for x, r in zip(xs, rows)
    ]
    bins: dict[int, list] = {}
    for p, y in scored:
        bins.setdefault(min(int(p * 10), 9), []).append((p, y))
    ece = sum(
        len(v)
        * abs(sum(p for p, _ in v) / len(v) - sum(y for _, y in v) / len(v))
        for v in bins.values()
    ) / len(scored)
    brier = sum((p - y) ** 2 for p, y in scored) / len(scored)
    assert {r["bin"] for r in got} == set(bins)
    for r in got:
        v = bins[r["bin"]]
        assert r["n"] == len(v)
        assert r["mean_p"] == pytest.approx(round(sum(p for p, _ in v) / len(v), 4))
        assert r["frac_pos"] == pytest.approx(
            round(sum(y for _, y in v) / len(v), 4)
        )
        assert r["ece"] == pytest.approx(round(ece, 4))
        assert r["brier"] == pytest.approx(round(brier, 4))


def test_calibration_plan_single_pass_broadcasts(spark, sf_smoke):
    """Stats, ECE and Brier frames are 1-row: every join must be a
    broadcast nested loop, never a shuffle or cartesian."""
    plan = plan_of(REGISTRY["q_calibration_bins"].fn(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# E142 position-based attribution
# ---------------------------------------------------------------------------
def test_attribution_fixture(spark, monkeypatch):
    """Each U-shape arm exercised: 3-touch (0.4/0.2/0.4), 1-touch (1.0),
    2-touch (0.5/0.5), trailing touches after the last purchase and
    users who never convert get nothing."""
    import dumpty_spark.queries.frontier8 as f8

    t0 = dt.datetime(2024, 1, 1)

    def ev(i, u, typ):
        return (i, t0 + dt.timedelta(minutes=i), u, typ, 1.0, "{}")

    rows = [
        # user 1: view, click, signup -> purchase ; then a trailing view
        ev(1, 1, "view"), ev(2, 1, "click"), ev(3, 1, "signup"),
        ev(4, 1, "purchase"), ev(5, 1, "view"),
        # user 2: view -> purchase (single touch)
        ev(6, 2, "view"), ev(7, 2, "purchase"),
        # user 3: click, view -> purchase (two touches)
        ev(8, 3, "click"), ev(9, 3, "view"), ev(10, 3, "purchase"),
        # user 4: never converts
        ev(11, 4, "click"), ev(12, 4, "view"),
    ]
    evdf = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    monkeypatch.setattr(f8, "load_table", _fake_loader({"events": evdf}))
    got = {
        r["event_type"]: r
        for r in f8.q_position_attribution(spark, "fixture").collect()
    }
    # view: 0.4 (u1 first) + 1.0 (u2) + 0.5 (u3 last) = 1.9
    # click: 0.2 (u1 middle) + 0.5 (u3 first) = 0.7
    # signup: 0.4 (u1 last)
    assert set(got) == {"view", "click", "signup"}
    assert got["view"]["total_credit"] == pytest.approx(1.9)
    assert got["click"]["total_credit"] == pytest.approx(0.7)
    assert got["signup"]["total_credit"] == pytest.approx(0.4)
    assert got["view"]["n_touches"] == 3
    total = sum(r["total_credit"] for r in got.values())
    assert total == pytest.approx(3.0)  # one unit of credit per conversion


def test_attribution_windows_partitioned_by_user(spark, sf_smoke):
    """Every window partitions on user state — no SinglePartition
    exchange (the global-window failure signature) anywhere."""
    plan = plan_of(REGISTRY["q_position_attribution"].fn(spark, sf_smoke))
    assert "Window" in plan
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan
