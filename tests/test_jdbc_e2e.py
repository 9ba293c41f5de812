"""Live-JDBC end-to-end tests against embedded Apache Derby (S1-S5).

The reference's core loop is introspect -> plan -> parallel JDBC scan ->
sink against a real database (reference src/dumpty/pipeline.py:424-459).
Derby ships on the Spark classpath (derby-*.jar, used by the Hive
metastore), so these tests run the whole loop over live JDBC cursors:

- S3 single scan, S1 bounds scan, S2 predicate (julienne) scan;
- metamorphic parity: all three strategies return the same row multiset,
  and the partitioned scans really produce one task per slice;
- NULL-PK routing: a NULL key lands in exactly one predicate slice;
- S4 catalog list via Derby's SYS tables (INFORMATION_SCHEMA analog);
- S5 change-tracking query with watermark substitution;
- scan -> NDJSON sink -> reconcile (the full pipeline round trip);
- driver-side introspection against the Spark-read answer, with no job;
- ``scanned`` (a scan's source and plan read back off the frame) and
  ``run_pipeline`` over scanned frames.
"""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError

from dumpty_spark.plans.planner import (
    PartitionPlan,
    approx_boundaries,
    plan_partitions,
)
from dumpty_spark.sources import load_table
from dumpty_spark.sources import jdbc
from dumpty_spark.sources.jdbc import (
    DERBY_JULIENNE,
    DERBY_TABLES,
    JdbcSource,
    changed_tables_jdbc,
    introspect_jdbc,
    julienne_boundaries_jdbc,
    list_tables,
    run_query,
    scan,
    scanned,
)

SCHEMA = "APP"  # Derby's default schema


def _exec(spark, url: str, *stmts: str) -> None:
    """Run DDL/DML through a raw java.sql connection (py4j)."""
    jvm = spark._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for s in stmts:
            st.execute(s)
        st.close()
    finally:
        conn.close()


@pytest.fixture(scope="module")
def derby(spark, sf_smoke, tmp_path_factory):
    """One embedded Derby DB per module, seeded from the sf0.001 customer
    fixture (written through Spark's own JDBC sink — DerbyDialect) plus a
    gappy/NULL-keyed table and a change-log table."""
    db_dir = tmp_path_factory.mktemp("derby") / "db"
    url = f"jdbc:derby:{db_dir};create=true"

    # Column names are written UPPERCASE: Spark's JDBC writer quotes
    # identifiers (case-sensitive in Derby), while raw SQL — including
    # the planner's generated predicates — folds unquoted names to
    # uppercase. Uppercase names satisfy both resolution paths.
    cust = load_table(spark, sf_smoke, "customer").selectExpr(
        "c_custkey AS C_CUSTKEY",
        "c_name AS C_NAME",
        "c_nationkey AS C_NATIONKEY",
        "c_acctbal AS C_ACCTBAL",
    )
    # Derby is embedded (single JVM): serialize the write to one cursor.
    cust.coalesce(1).write.format("jdbc").option("url", url).option(
        "dbtable", "customer"
    ).mode("overwrite").save()

    # gappy key (custkey*10), plus one NULL-keyed row: exercises the
    # julienne path (non-dense) and P3 NULL routing.
    gappy = cust.selectExpr(
        "CAST(C_CUSTKEY * 10 AS BIGINT) AS GKEY", "C_NAME", "C_ACCTBAL"
    )
    gappy.coalesce(1).write.format("jdbc").option("url", url).option(
        "dbtable", "gappy"
    ).mode("overwrite").save()
    _exec(
        spark,
        url,
        "INSERT INTO gappy (GKEY, C_NAME, C_ACCTBAL) "
        "VALUES (NULL, 'null-key-row', 0.0)",
    )

    _exec(
        spark,
        url,
        "CREATE TABLE change_log (table_name VARCHAR(64), changed_at INT)",
        "INSERT INTO change_log VALUES ('customer', 100)",
        "INSERT INTO change_log VALUES ('gappy', 300)",
        "INSERT INTO change_log VALUES ('customer', 350)",
        # a TIMESTAMP key with sub-second values, and an empty table
        "CREATE TABLE stamped (TS TIMESTAMP, K INT)",
        "INSERT INTO stamped VALUES ('2024-02-29 23:59:59.123456', 1)",
        "INSERT INTO stamped VALUES ('1999-12-31 00:00:00', 2)",
        "INSERT INTO stamped VALUES ('2024-03-01 00:00:00.5', 3)",
        "INSERT INTO stamped VALUES (NULL, 4)",
        "CREATE TABLE empty_t (K BIGINT)",
    )
    n_cust = cust.count()
    return {"url": url, "n_cust": n_cust}


def _src(derby, table: str) -> JdbcSource:
    # Derby has no MSSQL-style SET TRANSACTION statement: dirty_read off.
    return JdbcSource(url=derby["url"], table=table, dirty_read=False)


def test_s3_single_scan(spark, derby):
    df = scan(spark, _src(derby, "customer"), PartitionPlan(strategy="single"))
    assert df.count() == derby["n_cust"]
    assert df.rdd.getNumPartitions() == 1


def test_s1_bounds_scan_matches_and_partitions(spark, derby):
    src = _src(derby, "customer")
    stats = introspect_jdbc(spark, src, "C_CUSTKEY")
    assert stats.rows == derby["n_cust"] and stats.pk_numeric
    plan = plan_partitions(stats, partitions_override=4)
    assert plan.strategy == "bounds"  # custkey is dense 1..N
    df = scan(spark, src, plan)
    assert df.rdd.getNumPartitions() == 4
    single = scan(spark, src, PartitionPlan(strategy="single"))
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, single.collect()))


def test_s2_predicates_scan_matches_and_partitions(spark, derby):
    src = _src(derby, "gappy")
    stats = introspect_jdbc(spark, src, "GKEY")
    # gappy keys are 10,20,...: not dense, so the planner needs julienne
    # boundaries. Compute them from a bounded probe scan, like the
    # reference's boundary query runs on the source.
    probe = scan(spark, src, PartitionPlan(strategy="single"))
    bounds = approx_boundaries(probe, "GKEY", 4, rel_err=0.0)
    plan = plan_partitions(stats, partitions_override=4, boundaries=bounds)
    assert plan.strategy == "predicates"
    df = scan(spark, src, plan)
    assert df.rdd.getNumPartitions() == len(plan.predicates)
    # metamorphic: same multiset as the single scan, NULL row included
    assert sorted(map(tuple, df.fillna(-1).collect())) == sorted(
        map(tuple, probe.fillna(-1).collect())
    )


def test_null_pk_lands_in_exactly_one_slice(spark, derby):
    src = _src(derby, "gappy")
    probe = scan(spark, src, PartitionPlan(strategy="single"))
    bounds = approx_boundaries(probe, "GKEY", 4, rel_err=0.0)
    stats = introspect_jdbc(spark, src, "GKEY")
    plan = plan_partitions(stats, partitions_override=4, boundaries=bounds)
    hits = 0
    for pred in plan.predicates:
        part = run_query(
            spark, src, f"SELECT * FROM gappy WHERE {pred}"
        )
        hits += part.filter("GKEY IS NULL").count()
    assert hits == 1  # routed to the first slice only (P3)


def test_s4_catalog_list(spark, derby):
    names = list_tables(spark, _src(derby, "ignored"), SCHEMA, DERBY_TABLES)
    assert {"customer", "gappy", "change_log"} <= set(names)


def test_s5_change_tracking_query(spark, derby):
    src = _src(derby, "ignored")
    tmpl = (
        "SELECT DISTINCT table_name FROM change_log "
        "WHERE changed_at > {watermark}"
    )
    assert changed_tables_jdbc(spark, src, tmpl, "200") == ["customer", "gappy"]
    assert changed_tables_jdbc(spark, src, tmpl, "0") == ["customer", "gappy"]
    assert changed_tables_jdbc(spark, src, tmpl, "400") == []


def test_scan_to_sink_round_trip(spark, derby, tmp_path):
    """The full loop: introspect -> plan -> parallel scan -> NDJSON sink
    -> count reconcile (reference pipeline.py extract+load semantics)."""
    from dumpty_spark.sinks.writers import write_ndjson

    src = _src(derby, "customer")
    stats = introspect_jdbc(spark, src, "C_CUSTKEY")
    plan = plan_partitions(stats, partitions_override=3)
    df = scan(spark, src, plan)
    out = str(tmp_path / "customer_ndjson")
    write_ndjson(df, out)
    back = spark.read.json(os.path.join(out, "part-*"))
    # X7 reconcile: source introspection count == landed sink count
    assert back.count() == stats.rows


def test_julienne_boundaries_computed_server_side(spark, derby):
    """W1 parity: boundaries from the reference's ROW_NUMBER query run ON
    the database equal exact_julienne_boundaries over the scanned frame,
    and drive an identical predicates scan."""
    from dumpty_spark.plans.planner import exact_julienne_boundaries
    from dumpty_spark.sources.jdbc import DERBY_JULIENNE, julienne_boundaries_jdbc

    src = _src(derby, "gappy")
    probe = scan(spark, src, PartitionPlan(strategy="single")).filter(
        "GKEY IS NOT NULL"
    )
    width = 40
    want = exact_julienne_boundaries(probe, "GKEY", width)
    got = julienne_boundaries_jdbc(spark, src, "GKEY", width, DERBY_JULIENNE)
    assert got == want and len(got) >= 2

    stats = introspect_jdbc(spark, src, "GKEY")
    plan = plan_partitions(stats, partitions_override=len(got) + 1, boundaries=got)
    assert plan.strategy == "predicates"
    df = scan(spark, src, plan)
    full = scan(spark, src, PartitionPlan(strategy="single"))
    assert sorted(map(tuple, df.fillna(-1).collect())) == sorted(
        map(tuple, full.fillna(-1).collect())
    )


@pytest.mark.parametrize(
    "table,pk,numeric",
    [
        ("customer", "C_CUSTKEY", True),  # BIGINT, dense
        ("gappy", "GKEY", True),  # BIGINT, gappy, one NULL key
        ("change_log", "table_name", False),  # VARCHAR
        ("stamped", "TS", False),  # TIMESTAMP, sub-second, one NULL
        ("empty_t", "K", True),  # no rows: COUNT 0, MIN/MAX NULL
        ("customer", None, False),  # count only
    ],
)
def test_introspect_jdbc_matches_spark_read_without_a_job(spark, derby, table, pk, numeric):
    """Driver-side introspection gives what the same statement read
    through Spark gives, and starts no Spark job."""
    from dumpty_spark.session import jobs_after, last_job_id

    src = _src(derby, table)
    mark = last_job_id(spark)
    stats = introspect_jdbc(spark, src, pk)
    assert jobs_after(spark, mark) == []
    if pk is None:
        want = run_query(spark, src, f"SELECT COUNT(*) AS n FROM {table}").collect()[0]
        assert (stats.rows, stats.min, stats.max, stats.pk) == (want[0], None, None, None)
        return
    want = run_query(
        spark, src, f"SELECT COUNT(*) AS n, MIN({pk}) AS mn, MAX({pk}) AS mx FROM {table}"
    ).collect()[0]
    assert (stats.rows, stats.min, stats.max) == tuple(want)
    assert type(stats.min) is type(want[1])
    assert stats.pk == pk and stats.pk_numeric is numeric


def test_introspect_jdbc_runs_the_session_init_statement(spark, derby, monkeypatch):
    """A dirty-read source sends its isolation statement on the
    introspection connection before the query: Derby has no SET
    TRANSACTION, so it refuses the MSSQL one, and takes its own."""
    dirty = JdbcSource(url=derby["url"], table="customer")
    with pytest.raises(Py4JJavaError, match="TRANSACTION"):
        introspect_jdbc(spark, dirty, "C_CUSTKEY")
    monkeypatch.setattr(jdbc, "DIRTY_READ", "SET ISOLATION = UR")
    assert jdbc._fetch(spark, dirty, "VALUES CURRENT ISOLATION")[1] == [("UR",)]
    assert introspect_jdbc(spark, dirty, "C_CUSTKEY").rows == derby["n_cust"]


def _plans(spark, derby) -> dict[str, tuple[JdbcSource, PartitionPlan]]:
    """One plan of each strategy: a single cursor and four bounds over
    customer, and server-side julienne predicates over gappy."""
    cust, gappy = _src(derby, "customer"), _src(derby, "gappy")
    bounds = plan_partitions(introspect_jdbc(spark, cust, "C_CUSTKEY"), partitions_override=4)
    got = julienne_boundaries_jdbc(spark, gappy, "GKEY", 50, DERBY_JULIENNE)
    preds = plan_partitions(
        introspect_jdbc(spark, gappy, "GKEY"), partitions_override=len(got) + 1, boundaries=got
    )
    assert (bounds.strategy, preds.strategy) == ("bounds", "predicates")
    return {
        "single": (cust, PartitionPlan(strategy="single")),
        "bounds": (cust, bounds),
        "predicates": (gappy, preds),
    }


def test_scanned_round_trips_every_strategy(spark, derby, sf_smoke):
    """``scanned`` gives back the source and the plan a scan was built
    from (a predicates plan without the column and boundaries, which the
    scan does not keep), and None for anything but a bare JDBC scan."""
    dirty = JdbcSource(url=derby["url"], table="customer", properties={"create": "false"})
    for src, plan in [*_plans(spark, derby).values(), (dirty, PartitionPlan(strategy="single"))]:
        got_src, got_plan = scanned(scan(spark, src, plan))
        assert got_src == src
        if plan.strategy == "predicates":
            plan.column, plan.boundaries = None, []
        assert got_plan == plan
    src, plan = _plans(spark, derby)["bounds"]
    assert scanned(scan(spark, src, plan).filter("C_CUSTKEY > 3")) is None
    assert scanned(scan(spark, src, plan).select("C_NAME")) is None
    assert scanned(load_table(spark, sf_smoke, "customer")) is None


SCANNED_BUDGET = 22


def test_scanned_reads_a_scan_back_in_few_round_trips(spark, derby, sf_smoke, round_trips):
    """``scanned`` asks the node classes with one ``isInstance`` each and
    reads the options and the slices back as one JSON string each: at
    most 22 py4j round trips for a scan of each strategy, the session's
    first included (it was 100-117, reading the options map key by key
    and the slices element by element), and 5 to learn that a parquet
    frame is not a JDBC scan (was 7)."""
    frames = [scan(spark, src, plan) for src, plan in _plans(spark, derby).values()]
    for df in frames:
        with round_trips() as sent:
            assert scanned(df) is not None
        assert 0 < len(sent) <= SCANNED_BUDGET, sent
    orders = load_table(spark, sf_smoke, "orders")
    with round_trips() as sent:
        assert scanned(orders) is None
    assert len(sent) <= 5, sent


def test_partition_count_reads_every_jdbc_scan(spark, derby):
    """A JDBC scan, renamed to normalized names, is counted off its RDD
    (one partition per slice) and agrees with executing the plan."""
    from dumpty_spark.plans.types import normalize_df
    from dumpty_spark.sinks.writers import _partition_count, _scan_partitions

    for name, (src, plan) in _plans(spark, derby).items():
        df = normalize_df(scan(spark, src, plan))
        assert df.columns[0].islower(), name
        executed = df._jdf.queryExecution().executedPlan()
        n = executed.execute().getNumPartitions()
        assert n == (plan.partitions if name != "single" else 1), name
        assert _scan_partitions(executed) == _partition_count(df) == n, name


def _jdbc_pipeline(spark, frames, tmp_path, rows_per_partition):
    from dumpty_spark.pipeline import PipelineConfig, run_pipeline
    from dumpty_spark.plans.state import StateStore

    cfg = PipelineConfig(
        sink_dir=str(tmp_path / "out"),
        sink_format="json",
        rows_per_partition=rows_per_partition,
        workers=3,
        pk_by_table={n: "GKEY" if n == "predicates" else "C_CUSTKEY" for n in frames},
    )
    store = StateStore(str(tmp_path / "state"))
    return run_pipeline(spark, frames, cfg, store), store


def test_pipeline_over_jdbc_scans_records_and_writes_each_scan(spark, derby, tmp_path):
    """run_pipeline over JDBC scans records each scan's own plan and
    introspects its source without a job. A bounds or predicates scan
    whose slice count is the sink's file count is written as it reads,
    with no shuffle; a single cursor over more than rows_per_partition
    rows is spread over that many files."""
    from dumpty_spark.session import jobs_after, last_job_id

    plans = _plans(spark, derby)
    frames = {name: scan(spark, src, plan) for name, (src, plan) in plans.items()}
    # four slices for customer's bounds and gappy's predicates alike
    rpp = derby["n_cust"] // 4
    mark = last_job_id(spark)
    summary, store = _jdbc_pipeline(spark, frames, tmp_path, rpp)
    jobs = jobs_after(spark, mark)
    assert summary["n_errors"] == 0, summary["errors"]
    assert summary["all_consistent"]
    for name, (_, plan) in plans.items():
        st = store.get_table(name)
        assert (st.strategy, st.partitions) == (plan.strategy, plan.partitions), name
        assert st.predicates == (plan.predicates or None), name
        mine = [j for j in jobs if j["description"] == f"extract:{name}"]
        if name == "single":
            assert sum(j["shuffle_bytes"] for j in mine) > 0
        else:
            assert plan.partitions == 4, name
            assert len(mine) == 1 and mine[0]["shuffle_bytes"] == 0, (name, mine)
    assert all(j["description"].startswith("extract:") for j in jobs)
    assert summary["tables"]["single"]["rows"] == derby["n_cust"]


def test_predicates_scan_that_misses_rows_is_inconsistent(spark, derby, tmp_path):
    """The reconcile counts the source, not the frame: predicates that
    leave out a slice write fewer rows than the table holds."""
    src, plan = _plans(spark, derby)["predicates"]
    plan.predicates = plan.predicates[:-2]
    summary, _ = _jdbc_pipeline(
        spark, {"predicates": scan(spark, src, plan)}, tmp_path, derby["n_cust"]
    )
    t = summary["tables"]["predicates"]
    assert summary["n_errors"] == 0, summary["errors"]
    assert t["rows"] == derby["n_cust"] + 1 and 0 < t["rows_loaded"] < t["rows"]
    assert t["consistent"] is False
