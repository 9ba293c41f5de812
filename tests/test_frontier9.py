"""Unit + plan tests for the round-6 fourth batch (queries/frontier9.py,
E143-E148): crafted fixtures with independently derivable answers driven
through the real registered query code via a load_table monkeypatch,
numpy cross-check for the power-iteration spectrum, and the plan
assertions each query's doc claims."""

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
# E143 covariance spectrum
# ---------------------------------------------------------------------------
def test_spectrum_matches_numpy(spark, sf_smoke):
    """Contract vs numpy on the same 6dp-rounded covariance matrix: the
    trace matches exactly, and the Rayleigh readout is a valid lower
    bound on the dominant eigenvalue that at least matches the mean
    eigenvalue (the synthetic embeddings are near-isotropic, so the
    8-round estimate documents the lower-bound semantics; the
    sharp-spectrum case is pinned by test_spectrum_known_matrix)."""
    import numpy as np

    from dumpty_spark.sources.parquet import load_table

    row = REGISTRY["q_covariance_spectrum"].fn(spark, sf_smoke).first()
    emb = np.array(
        [r["embedding"] for r in load_table(spark, sf_smoke, "embeddings").collect()],
        dtype="float64",
    )
    n = emb.shape[0]
    mu = np.round(emb.mean(axis=0), 6)
    c = np.round(emb.T @ emb / n - np.outer(mu, mu), 6)
    evals = np.linalg.eigvalsh(c)
    tr = np.trace(c)
    assert row["trace"] == pytest.approx(tr, abs=1e-3)
    # Rayleigh quotient of ANY vector lies in [eval_min, eval_max], and
    # 8 power rounds from uniform must do no worse than the average
    assert row["top_eigenvalue"] <= evals[-1] + 1e-3
    assert row["top_eigenvalue"] >= tr / len(evals) - 1e-3
    assert row["explained_share"] == pytest.approx(
        row["top_eigenvalue"] / tr, abs=1e-3
    )
    assert 0 <= row["top_dim"] < 64


def test_spectrum_known_matrix(spark, monkeypatch):
    """Hand-built 3-point, 64-dim fixture whose covariance is dominated
    by dim 0: variance concentrates there and top_dim finds it."""
    import dumpty_spark.queries.frontier9 as f9

    vecs = [
        [10.0] + [0.0] * 63,
        [-10.0] + [0.0] * 63,
        [0.0] * 63 + [1.0],
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    monkeypatch.setattr(f9, "load_table", _fake_loader({"embeddings": emb}))
    row = f9.q_covariance_spectrum(spark, "fixture").first()
    assert row["top_dim"] == 0
    # var(dim0) = (100+100+0)/3 - (0)^2 = 66.6667 dominates the spectrum
    assert row["top_eigenvalue"] == pytest.approx(66.6667, abs=1e-2)
    assert row["explained_share"] > 0.99


def test_spectrum_plan_broadcasts_iteration(spark, sf_smoke, monkeypatch):
    """The DISTRIBUTED regime's 8 rounds must ride broadcast joins,
    never a cartesian (forced via the two-regime gate's env knob — the
    r11 driver fast path otherwise returns a local-relation result with
    no joins at all)."""
    monkeypatch.setenv("SPARK_GRAFT_FORCE_DISTRIBUTED", "1")
    plan = plan_of(REGISTRY["q_covariance_spectrum"].fn(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_spectrum_driver_regime_matches_distributed(spark, sf_smoke, monkeypatch):
    """The r11 driver fast path must reproduce the distributed loop's
    result exactly (same 9dp-requantized trajectory, same HALF_UP
    readout rounding)."""
    from dumpty_spark.operators import telemetry

    fast = REGISTRY["q_covariance_spectrum"].fn(spark, sf_smoke).collect()
    assert telemetry.LAST["covariance_spectrum"]["regime"] == "driver"
    monkeypatch.setenv("SPARK_GRAFT_FORCE_DISTRIBUTED", "1")
    slow = REGISTRY["q_covariance_spectrum"].fn(spark, sf_smoke).collect()
    assert telemetry.LAST["covariance_spectrum"]["regime"] == "distributed"
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
def test_spectrum_driver_distributed_property(spark, monkeypatch, seed):
    """Property test (VERDICT r11 #7): over randomized small matrices the
    driver fast path (fsum + HALF_UP replica) and the forced-distributed
    loop must walk identical 9dp-requantized trajectories to identical
    4dp readouts — closing the FP-order risk the single-fixture
    equivalence test left open."""
    import numpy as np

    import dumpty_spark.queries.frontier9 as f9
    from dumpty_spark.operators import telemetry

    rng = np.random.default_rng(seed)
    n, d = 30, 8
    rows = [
        (int(i), [float(round(x, 4)) for x in rng.normal(size=d)], 0)
        for i in range(n)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(f9, "load_table", _fake_loader({"embeddings": emb}))
    fast = f9.q_covariance_spectrum(spark, "fixture").collect()
    assert telemetry.LAST["covariance_spectrum"]["regime"] == "driver"
    monkeypatch.setenv("SPARK_GRAFT_FORCE_DISTRIBUTED", "1")
    slow = f9.q_covariance_spectrum(spark, "fixture").collect()
    assert telemetry.LAST["covariance_spectrum"]["regime"] == "distributed"
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


def test_spectrum_degenerate_zero_covariance_agrees(spark, monkeypatch):
    """Constant embeddings → all-zero covariance (ADVICE r11 #3): the
    driver regime must not raise a bare Python ZeroDivisionError — it
    falls through to the distributed path, so both invocations fail the
    SAME way (Spark's ANSI DIVIDE_BY_ZERO from the v/mx round division —
    under Spark 4's default ANSI mode the degenerate input is a loud
    error in BOTH regimes, which is the agreement the advice asked
    for)."""
    from pyspark.errors.exceptions.captured import ArithmeticException

    import dumpty_spark.queries.frontier9 as f9
    from dumpty_spark.operators import telemetry

    rows = [(int(i), [1.0, 2.0, 3.0, 4.0], 0) for i in range(10)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(f9, "load_table", _fake_loader({"embeddings": emb}))
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        f9.q_covariance_spectrum(spark, "fixture").collect()
    assert telemetry.LAST["covariance_spectrum"]["regime"] == "distributed"
    monkeypatch.setenv("SPARK_GRAFT_FORCE_DISTRIBUTED", "1")
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        f9.q_covariance_spectrum(spark, "fixture").collect()


# ---------------------------------------------------------------------------
# E144 HLL overlap
# ---------------------------------------------------------------------------
def test_hll_overlap_exact_algebra(spark, monkeypatch):
    """Crafted user sets: A={1..10}, B={6..15} (overlap 5), C={100}
    (disjoint from both — pairs with zero overlap are absent by
    contract). Inclusion-exclusion identities hold on exact columns."""
    import dumpty_spark.queries.frontier9 as f9

    t0 = dt.datetime(2024, 1, 1)
    rows = (
        [(i, t0, u, "a", 0.0, "{}") for i, u in enumerate(range(1, 11))]
        + [(100 + i, t0, u, "b", 0.0, "{}") for i, u in enumerate(range(6, 16))]
        + [(200, t0, 100, "c", 0.0, "{}")]
    )
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    monkeypatch.setattr(f9, "load_table", _fake_loader({"events": ev}))
    got = {
        (r["type_a"], r["type_b"]): r
        for r in f9.q_hll_overlap(spark, "fixture").collect()
    }
    assert set(got) == {("a", "b")}
    r = got[("a", "b")]
    assert (r["exact_a"], r["exact_b"]) == (10, 10)
    assert r["exact_overlap"] == 5 and r["exact_union"] == 15
    assert r["in_envelope"] is True  # tiny sets: HLL is exact here


def test_hll_overlap_envelope_on_real_data(spark, sf_smoke):
    rows = REGISTRY["q_hll_overlap"].fn(spark, sf_smoke).collect()
    assert len(rows) == 10  # 5 types -> all pairs overlap on this data
    assert all(r["in_envelope"] for r in rows)
    for r in rows:
        assert r["exact_union"] == r["exact_a"] + r["exact_b"] - r["exact_overlap"]


# ---------------------------------------------------------------------------
# E145 categorical entropy
# ---------------------------------------------------------------------------
def test_entropy_fixture(spark, monkeypatch):
    """documents.lang with p = (.5, .25, .25): entropy = 1.5 ln 2,
    gini = 0.625, top_share = 0.5; a constant column has entropy 0 and
    norm_entropy 0 by the k=1 guard."""
    import dumpty_spark.queries.frontier9 as f9

    docs = spark.createDataFrame(
        [(i, "x", l, "s0", 1) for i, l in enumerate(["en", "en", "fr", "de"])],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1, "view", 0.0, "{}")],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    orders = spark.createDataFrame(
        [(1, 1, "O", 1.0, dt.datetime(2024, 1, 1), "1-URGENT")],
        [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ],
    )
    monkeypatch.setattr(
        f9,
        "load_table",
        _fake_loader({"documents": docs, "events": ev, "orders": orders}),
    )
    got = {r["col"]: r for r in f9.q_categorical_entropy(spark, "fixture").collect()}
    lang = got["documents.lang"]
    h = -(0.5 * math.log(0.5) + 2 * 0.25 * math.log(0.25))
    assert lang["n_distinct"] == 3
    assert lang["entropy"] == pytest.approx(round(h, 6))
    assert lang["norm_entropy"] == pytest.approx(round(h / math.log(3), 6))
    assert lang["gini"] == pytest.approx(0.625)
    assert lang["top_share"] == pytest.approx(0.5)
    const = got["events.event_type"]
    assert const["n_distinct"] == 1
    assert const["entropy"] == 0.0 and const["norm_entropy"] == 0.0


# ---------------------------------------------------------------------------
# E146 degree tail
# ---------------------------------------------------------------------------
def test_degree_tail_fixture(spark, monkeypatch):
    """Star graph (hub 0 + 9 leaves): degrees are one 9 and nine 1s —
    p50/p90 = 1, p99 = 9, and the Hill sum runs over the single degree
    above d_(k)=1."""
    import dumpty_spark.queries.frontier9 as f9
    from dumpty_spark.queries import shared_graph
    from dumpty_spark.session import forget

    li = spark.createDataFrame(
        [(i, 0) for i in range(9)] + [(i, i + 1) for i in range(9)],
        ["l_orderkey", "l_partkey"],
    )
    monkeypatch.setattr(shared_graph, "load_table", _fake_loader({"lineitem": li}))
    forget("pairs", "fixture")
    try:
        row = f9.q_degree_tail(spark, "fixture").first()
    finally:
        forget("pairs", "fixture")
    assert row["n_nodes"] == 10 and row["max_d"] == 9
    assert row["mean_degree"] == pytest.approx(1.8)
    assert (row["p50"], row["p90"], row["p99"]) == (1, 1, 9)
    # top-100 = all 10 degrees; d_(k)=1; only the hub exceeds it
    assert row["hill_alpha"] == pytest.approx(
        round(100 / math.log(9.0), 4)
    )


def test_degree_tail_no_per_node_sort_window(spark, sf_smoke):
    """The running-coverage window rides the DEGREE-VALUE rollup, so no
    exchange in the plan may move per-node data to a single partition
    before aggregation (the window input is post-agg, value-table-sized)."""
    plan = plan_of(REGISTRY["q_degree_tail"].fn(spark, sf_smoke))
    assert "Window" in plan
    # the window's sort is over the aggregated (d, c) frame: 'cov' only
    # exists after the rollup, never over raw pairs
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# E147 time to convert
# ---------------------------------------------------------------------------
def test_time_to_convert_fixture(spark, monkeypatch):
    """Three converters (10, 30, 90 minutes), one view-only and one
    purchase-before-view user (both excluded): exact CDF percentiles."""
    import dumpty_spark.queries.frontier9 as f9

    t0 = dt.datetime(2024, 1, 1)

    def ev(i, u, typ, mins):
        return (i, t0 + dt.timedelta(minutes=mins), u, typ, 0.0, "{}")

    rows = [
        ev(1, 1, "view", 0), ev(2, 1, "purchase", 10),
        ev(3, 2, "view", 0), ev(4, 2, "purchase", 30),
        ev(5, 3, "view", 0), ev(6, 3, "purchase", 90),
        ev(7, 4, "view", 0),                      # never buys
        ev(8, 5, "purchase", 0), ev(9, 5, "view", 10),  # buys first
    ]
    evdf = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    monkeypatch.setattr(f9, "load_table", _fake_loader({"events": evdf}))
    row = f9.q_time_to_convert(spark, "fixture").first()
    assert row["n_converters"] == 3
    assert row["mean_mins"] == pytest.approx(round((10 + 30 + 90) / 3, 4))
    assert (row["p50_mins"], row["p90_mins"], row["p99_mins"]) == (30, 90, 90)


# ---------------------------------------------------------------------------
# E148 blocklist screen
# ---------------------------------------------------------------------------
def test_blocklist_fixture(spark, monkeypatch):
    """Token-boundary contract: 'slowly' must NOT flag 'slow'; the
    __any__ rollup counts docs hitting >=1 term once, not per term."""
    import dumpty_spark.queries.frontier9 as f9

    docs = spark.createDataFrame(
        [
            (1, "the slow error path", "en", "s1", 1),
            (2, "slowly does it", "en", "s1", 1),
            (3, "slow slow slow", "en", "s1", 1),
            (4, "clean text here", "en", "s2", 1),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    monkeypatch.setattr(f9, "load_table", _fake_loader({"documents": docs}))
    got = {
        (r["source"], r["term"]): r
        for r in f9.q_blocklist_screen(spark, "fixture").collect()
    }
    assert got[("s1", "slow")]["n_docs_hit"] == 2  # docs 1 and 3, not 2
    assert got[("s1", "error")]["n_docs_hit"] == 1
    assert got[("s1", "__any__")]["n_docs_hit"] == 2
    assert got[("s1", "__any__")]["hit_rate"] == pytest.approx(round(2 / 3, 6))
    assert got[("s2", "__any__")]["n_docs_hit"] == 0
    assert ("s2", "slow") not in got


def test_blocklist_single_tokenize_pass(spark, sf_smoke):
    """Both rollups feed off ONE tokenize scan (the localCheckpoint
    anchor): the composed plan reads no parquet at all downstream."""
    df = REGISTRY["q_blocklist_screen"].fn(spark, sf_smoke)
    plan = plan_of(df)
    assert "Scan parquet" not in plan  # everything hangs off the checkpoint
    assert "BatchEvalPython" not in plan
