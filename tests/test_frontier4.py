"""Unit tests for the round-5 fourth batch (queries/frontier4.py)."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest


def _copurchase_edges(li):
    """Test-local symmetric co-purchase edge build (the production
    queries all consume shared_graph.copurchase_pairs; this keeps the
    regime-equality tests independent of the session cache)."""
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = (
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
    )
    return pairs.unionAll(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _ev(spark, rows):
    return spark.createDataFrame(
        rows,
        "user_id long, event_type string, event_id long, ts timestamp, value double",
    ).select(
        "user_id", "event_type", "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"), "value",
    )


# ---------------------------------------------------------------------------
# E121 label propagation
# ---------------------------------------------------------------------------
@pytest.fixture
def fake_pairs_key():
    """Isolate the fake-data pair graph (sf_dir "x") from other tests."""
    from dumpty_spark.session import forget

    forget("pairs", "x")
    yield
    forget("pairs", "x")


def test_lpa_separates_two_cliques(spark, monkeypatch, fake_pairs_key):
    """Two 4-cliques joined by one bridge edge resolve to two
    communities, each labeled by its smallest member."""
    import dumpty_spark.queries.frontier4 as FR4
    import dumpty_spark.queries.shared_graph as SG

    # encode the graph as baskets: each order = one clique (so the
    # co-purchase build yields clique edges), plus a 2-item bridge order
    rows = []
    for order, parts in ((1, [1, 2, 3, 4]), (2, [10, 11, 12, 13]), (3, [4, 10])):
        rows += [(order, p) for p in parts]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    monkeypatch.setattr(SG, "load_table", lambda *a: li)
    out = {r["community"]: r for r in FR4.q_label_propagation(spark, "x").collect()}
    # every node converges into one of the two clique communities
    total = sum(r["n_members"] for r in out.values())
    assert total == 8
    assert len(out) == 2
    sizes = sorted(r["n_members"] for r in out.values())
    assert sizes == [4, 4]


def test_lpa_is_deterministic(spark, monkeypatch, fake_pairs_key):
    import dumpty_spark.queries.frontier4 as FR4
    import dumpty_spark.queries.shared_graph as SG

    rows = [(1, p) for p in (1, 2, 3)] + [(2, p) for p in (3, 4, 5)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    monkeypatch.setattr(SG, "load_table", lambda *a: li)
    a = [tuple(r) for r in FR4.q_label_propagation(spark, "x").collect()]
    b = [tuple(r) for r in FR4.q_label_propagation(spark, "x").collect()]
    assert a == b


# ---------------------------------------------------------------------------
# E122 eventually-follows
# ---------------------------------------------------------------------------
def test_efg_strict_ordering_and_support(spark, monkeypatch):
    import dumpty_spark.queries.frontier4 as FR4

    base = dt.datetime(2024, 3, 1)
    rows = [
        # user 1: a at t0, b at t2 -> a→b follows, b→a does NOT
        (1, "a", 1, base, 0.0),
        (1, "b", 2, base + dt.timedelta(hours=2), 0.0),
        # user 2: b first, later a, then b again -> both directions hold
        (2, "b", 3, base, 0.0),
        (2, "a", 4, base + dt.timedelta(hours=1), 0.0),
        (2, "b", 5, base + dt.timedelta(hours=2), 0.0),
    ]
    monkeypatch.setattr(FR4, "load_table", lambda *a: _ev(spark, rows))
    out = {
        (r["from_type"], r["to_type"]): (r["n_follows"], r["n_users_both"], r["support"])
        for r in FR4.q_eventually_follows(spark, "x").collect()
    }
    assert out[("a", "b")] == (2, 2, 1.0)
    assert out[("b", "a")] == (1, 2, 0.5)


# ---------------------------------------------------------------------------
# E123 RAKE
# ---------------------------------------------------------------------------
def test_rake_phrases_and_scores(spark, monkeypatch):
    """Stopwords split phrases; deg/freq arithmetic checked by hand."""
    import dumpty_spark.queries.frontier4 as FR4

    docs = spark.createDataFrame(
        [
            (1, "deep learning is deep learning"),
            (2, "the deep learning model and model tuning"),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(FR4, "load_table", lambda *a: docs)
    out = {r["phrase"]: (r["n_occurrences"], r["rake_score"]) for r in
           FR4.q_rake_keywords(spark, "x").collect()}
    # phrases (len >= 2): 'deep learning' x2 (doc1, split on 'is'),
    # 'deep learning model' x1, 'model tuning' x1
    assert set(out) == {"deep learning", "deep learning model", "model tuning"}
    # word stats: deep: freq 3, deg 2+2+3=7; learning: freq 3, deg 7;
    # model: freq 2, deg 3+2=5; tuning: freq 1, deg 2
    s_dl = 7 / 3 + 7 / 3
    s_dlm = 7 / 3 + 7 / 3 + 5 / 2
    s_mt = 5 / 2 + 2 / 1
    assert out["deep learning"] == (2, pytest.approx(round(s_dl, 4)))
    assert out["deep learning model"] == (1, pytest.approx(round(s_dlm, 4)))
    assert out["model tuning"] == (1, pytest.approx(round(s_mt, 4)))


def test_rake_single_words_excluded(spark, monkeypatch):
    import dumpty_spark.queries.frontier4 as FR4

    docs = spark.createDataFrame(
        [(1, "alpha the beta the gamma delta")], "doc_id long, text string"
    )
    monkeypatch.setattr(FR4, "load_table", lambda *a: docs)
    out = [r["phrase"] for r in FR4.q_rake_keywords(spark, "x").collect()]
    assert out == ["gamma delta"]


# ---------------------------------------------------------------------------
# E124 interpolated as-of
# ---------------------------------------------------------------------------
def test_interp_asof_linear_between_brackets(spark, monkeypatch):
    import dumpty_spark.queries.frontier4 as FR4

    base = dt.datetime(2024, 3, 1)
    rows = [
        (1, "click", 1, base, 10.0),
        (1, "purchase", 2, base + dt.timedelta(minutes=15), 0.0),
        (1, "click", 3, base + dt.timedelta(hours=1), 30.0),
        # purchase with no later click -> falls back to prev anchor
        (1, "purchase", 4, base + dt.timedelta(hours=2), 0.0),
        # user 2: purchase BEFORE any click -> falls back to next anchor
        (2, "purchase", 5, base, 0.0),
        (2, "click", 6, base + dt.timedelta(hours=1), 44.0),
    ]
    monkeypatch.setattr(FR4, "load_table", lambda *a: _ev(spark, rows))
    out = {r["event_id"]: r["interp_click_value"] for r in
           FR4.q_interp_asof_join(spark, "x").collect()}
    assert out[2] == pytest.approx(10.0 + (30.0 - 10.0) * 0.25)  # 15.0
    assert out[4] == 30.0
    assert out[5] == 44.0


def test_lpa_distributed_equals_driver_regime(spark, monkeypatch):
    """Forcing the distributed loop (driver_max_edges=0) yields the
    identical labeling as the numpy driver regime."""
    from dumpty_spark.operators.graph import label_propagation

    rows = []
    for order, parts in ((1, [1, 2, 3, 4]), (2, [10, 11, 12, 13]), (3, [4, 10]),
                         (4, [2, 3]), (5, [11, 13])):
        rows += [(order, p) for p in parts]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    edges = _copurchase_edges(li).localCheckpoint()
    drv = {(r["id"], r["label"]) for r in
           label_propagation(edges, src="u", dst="v", n_rounds=4).collect()}
    dist = {(r["id"], r["label"]) for r in
            label_propagation(edges, src="u", dst="v", n_rounds=4,
                              driver_max_edges=0).collect()}
    assert drv == dist
