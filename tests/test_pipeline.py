"""End-to-end concurrent pipeline: introspect→plan→extract→validate over
multiple fixture tables, state persistence, TTL reuse, size feedback."""

from __future__ import annotations

from dumpty_spark.pipeline import PipelineConfig, run_pipeline
from dumpty_spark.plans.state import StateStore
from dumpty_spark.sources import load_table
from dumpty_spark.sources.jdbc import JdbcSource, scan_options
from dumpty_spark.plans.planner import PartitionPlan


def test_pipeline_end_to_end(spark, sf_smoke, tmp_path):
    tables = {n: load_table(spark, sf_smoke, n) for n in ("region", "nation", "orders", "lineitem")}
    cfg = PipelineConfig(
        sink_dir=str(tmp_path / "out"),
        sink_format="parquet",
        rows_per_partition=500,
        workers=4,
        pk_by_table={"orders": "o_orderkey", "lineitem": "l_orderkey", "region": "r_regionkey", "nation": "n_nationkey"},
    )
    with StateStore(str(tmp_path / "state")) as store:
        summary = run_pipeline(spark, tables, cfg, store)
    assert summary["n_errors"] == 0, summary["errors"]
    assert summary["all_consistent"]
    assert summary["total_rows"] == 5 + 25 + 1500 + 6000
    t = summary["tables"]
    assert t["orders"]["strategy"] == "bounds"  # dense numeric PK
    assert t["lineitem"]["strategy"] == "predicates"  # skewed key → julienne
    assert t["region"]["strategy"] == "single"
    for name in tables:
        assert t[name]["consistent"], name
        assert t[name]["sink_bytes"] > 0


def test_pipeline_ttl_reuse_and_feedback(spark, sf_smoke, tmp_path):
    tables = {"orders": load_table(spark, sf_smoke, "orders")}
    cfg = PipelineConfig(
        sink_dir=str(tmp_path / "out"),
        rows_per_partition=500,
        pk_by_table={"orders": "o_orderkey"},
    )
    store = StateStore(str(tmp_path / "state"))
    s1 = run_pipeline(spark, tables, cfg, store)
    st1 = store.get_table("orders")
    ts1 = st1.introspect_ts
    assert st1.advised_partitions == 1  # tiny output → departition advice
    s2 = run_pipeline(spark, tables, cfg, store)
    st2 = store.get_table("orders")
    assert st2.introspect_ts == ts1  # TTL reuse — no re-introspection
    assert s2["all_consistent"]


def test_pipeline_fastcount_one_job_per_parquet_table(spark, sf_smoke, tmp_path):
    """With fastcount, a cold parquet table costs one Spark job, its write:
    introspection, the one-file sizing and the reconcile are answered on
    the driver."""
    from dumpty_spark.session import jobs_after, last_job_id

    names = ("region", "nation", "supplier", "customer", "orders")
    tables = {n: load_table(spark, sf_smoke, n) for n in names}
    cfg = PipelineConfig(
        sink_dir=str(tmp_path / "out"),
        workers=4,
        pk_by_table={"customer": "c_custkey", "orders": "o_orderkey"},
        fastcount=True,
        source_dir=sf_smoke,
    )
    mark = last_job_id(spark)
    with StateStore(str(tmp_path / "state")) as store:
        summary = run_pipeline(spark, tables, cfg, store)
    jobs = jobs_after(spark, mark)
    assert summary["n_errors"] == 0, summary["errors"]
    assert summary["all_consistent"]
    assert sorted(j["description"] for j in jobs) == sorted(f"extract:{n}" for n in names)


def test_parquet_sink_missing_part_file_is_inconsistent(spark, sf_smoke, tmp_path, monkeypatch):
    """The reconcile counts rows at rest: a part file lost after the write
    makes the table inconsistent."""
    import glob
    import os

    from dumpty_spark import pipeline

    real = pipeline.write_parquet

    def lossy(df, path, partitions=None):
        uri = real(df, path, partitions)
        os.remove(sorted(glob.glob(uri))[0])
        return uri

    monkeypatch.setattr(pipeline, "write_parquet", lossy)
    cfg = PipelineConfig(
        sink_dir=str(tmp_path / "out"),
        rows_per_partition=500,
        pk_by_table={"orders": "o_orderkey"},
    )
    with StateStore(str(tmp_path / "state")) as store:
        summary = run_pipeline(spark, {"orders": load_table(spark, sf_smoke, "orders")}, cfg, store)
    t = summary["tables"]["orders"]
    assert summary["n_errors"] == 0, summary["errors"]
    assert t["partitions"] == 3 and 0 < t["rows_loaded"] < t["rows"]
    assert t["consistent"] is False and summary["all_consistent"] is False


def test_jdbc_scan_options():
    src = JdbcSource(url="jdbc:sqlserver://h;db=x", table="dbo.t")
    bounds = PartitionPlan(strategy="bounds", partitions=8, column="id", lower=1, upper=100)
    opts = scan_options(src, bounds)
    assert opts["partitionColumn"] == "id"
    assert opts["numPartitions"] == "8"
    assert opts["fetchsize"] == "2000"
    assert "READ UNCOMMITTED" in opts["sessionInitStatement"]
    single = scan_options(src, PartitionPlan(strategy="single"))
    assert "partitionColumn" not in single


def test_cli_full_then_incremental_noop(spark, sf_smoke, tmp_path, capsys):
    """Full run extracts and reconciles; an incremental rerun with an
    unchanged source selects zero tables and still exits 0 — the
    reference's full/incremental switch + watermark-advance semantics."""
    import json

    from dumpty_spark.cli import main

    args = [
        "--source-dir", sf_smoke,
        "--sink-dir", str(tmp_path / "out"),
        "--state-dir", str(tmp_path / "state"),
        "--tables", "region", "nation",
        "--workers", "2",
    ]
    assert main(args) == 0
    s1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s1["n_ok"] == 2 and s1["all_consistent"] and s1["mode"] == "full"

    assert main(args + ["--extract", "incremental"]) == 0
    s2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s2["n_tables"] == 0 and s2["mode"] == "incremental"


def test_cli_reconciles_missing_tables(spark, sf_smoke, tmp_path, capsys):
    import json

    from dumpty_spark.cli import main

    rc = main([
        "--source-dir", sf_smoke,
        "--sink-dir", str(tmp_path / "out"),
        "--state-dir", str(tmp_path / "state"),
        "--tables", "region", "not_a_table",
        "--workers", "1",
    ])
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["skipped_missing"] == ["not_a_table"] and s["n_ok"] == 1


def test_cli_shuffle_tables_deterministic(spark, sf_smoke, tmp_path, capsys):
    """--shuffle-tables must process the same table SET in a scrambled
    but deterministic order (md5 of the name): two runs produce equal
    summaries, and the run is as complete as an unshuffled one. The
    ordering function itself is asserted directly (the concurrent
    summary intentionally carries no submission order)."""
    import hashlib
    import json as _json

    from dumpty_spark.cli import main, scrambled_order

    names = ["region", "nation", "supplier", "orders", "lineitem"]
    order = scrambled_order(names)
    assert sorted(order) == sorted(names)              # same set
    assert order != sorted(names) and order != names   # actually scrambled
    assert order == scrambled_order(list(reversed(names)))  # input-order-free
    assert order == sorted(
        names, key=lambda n: hashlib.md5(n.encode()).hexdigest()
    )

    def run(out, state):
        rc = main(
            [
                "--source-dir", sf_smoke,
                "--sink-dir", str(tmp_path / out),
                "--state-dir", str(tmp_path / state),
                "--tables", "region", "nation", "supplier",
                "--shuffle-tables",
            ]
        )
        captured = capsys.readouterr().out.strip().splitlines()[-1]
        return rc, _json.loads(captured)

    rc1, s1 = run("o1", "s1")
    rc2, s2 = run("o2", "s2")
    assert rc1 == rc2 == 0
    assert s1["n_tables"] == s2["n_tables"] == 3
    assert s1["all_consistent"] and s2["all_consistent"]


def test_config_env_substitution(tmp_path, monkeypatch):
    """$VAR / ${VAR} in the config file resolve from the environment at
    parse time (reference main.py:77-82 Jinja-env parity); unset vars
    stay verbatim so the parse fails loudly instead of silently
    blanking a path."""
    from dumpty_spark.cli import load_config

    monkeypatch.setenv("DS_SINK", "/data/out")
    cfg = tmp_path / "cfg.json"
    cfg.write_text('{"sink_dir": "${DS_SINK}/run1", "workers": 4}')
    got = load_config(str(cfg))
    assert got == {"sink_dir": "/data/out/run1", "workers": 4}

    cfg.write_text('{"sink_dir": "${DS_UNSET_VAR}/run1"}')
    assert load_config(str(cfg))["sink_dir"] == "${DS_UNSET_VAR}/run1"


def test_with_retries_backoff_and_permanent_errors():
    """X4 semantics: retriable errors back off 5→10→20 (capped 30) and
    eventually succeed; non-retriable errors propagate immediately."""
    from dumpty_spark.pipeline import with_retries

    sleeps, calls = [], []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise IOError("transient")
        return "ok"

    got = with_retries(flaky, attempts=4, sleep=sleeps.append)
    assert got == "ok" and len(calls) == 3 and sleeps == [5.0, 10.0]

    def permanent():
        raise ValueError("bad request")

    try:
        with_retries(permanent, sleep=sleeps.append)
        raise AssertionError("should have raised")
    except ValueError:
        pass
    assert sleeps == [5.0, 10.0]  # no sleeps added for the permanent error

    def always():
        raise IOError("down")

    try:
        with_retries(always, attempts=2, sleep=sleeps.append)
        raise AssertionError("should have raised")
    except IOError:
        pass
    assert sleeps == [5.0, 10.0, 5.0]  # one retry sleep, then exhausted


def test_cli_fastcount_matches_scan_introspection(spark, sf_smoke, tmp_path, capsys):
    """--fastcount answers introspection from parquet footers; the run
    summary (row counts, reconciliation) is identical to the scan-based
    run, and the persisted state carries the same exact counts."""
    import json

    from dumpty_spark.cli import main
    from dumpty_spark.plans.state import StateStore

    base = [
        "--source-dir", sf_smoke,
        "--sink-dir", str(tmp_path / "out"),
        "--tables", "region", "customer",
        "--workers", "2",
    ]
    assert main(base + ["--state-dir", str(tmp_path / "s_scan")]) == 0
    s_scan = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (
        main(base + ["--state-dir", str(tmp_path / "s_fast"), "--fastcount"]) == 0
    )
    s_fast = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s_fast["n_ok"] == s_scan["n_ok"] == 2
    assert s_fast["all_consistent"] and s_scan["all_consistent"]
    with StateStore(str(tmp_path / "s_fast")) as fast_store, StateStore(
        str(tmp_path / "s_scan")
    ) as scan_store:
        for t in ("region", "customer"):
            fast_state, scan_state = fast_store.get_table(t), scan_store.get_table(t)
            assert fast_state.rows == scan_state.rows
