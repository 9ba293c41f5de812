"""The per-table py4j budget of the fleet ingest path.

Every py4j round trip from the driver is a socket exchange with the JVM,
made on the thread that asks, and a small table's ingest is mostly made
of them. A cold ``load_table`` and one parquet-sink ``_process_table``
over an ``sf_smoke`` table are pinned at or under the round trips they
make now (75 and 202 for ``orders`` before the JVM-class memo, the
one-call rename and the scan-leaf partition count; 26 for the table
before ``sources.jdbc.scanned`` learned in 5 round trips, not 7, that a
parquet frame is not a JDBC scan). Only the calling thread's commands
are counted (the ``round_trips`` fixture)."""

from __future__ import annotations

import os

from dumpty_spark import pipeline
from dumpty_spark.plans.state import StateStore
from dumpty_spark.sources import parquet

LOAD_TABLE_BUDGET = 22
PROCESS_TABLE_BUDGET = 24


def _cold_dir(sf_smoke, path) -> str:
    """A new directory of hard links, so every table resolves cold."""
    os.makedirs(path)
    os.link(parquet.table_path(sf_smoke, "orders"), parquet.table_path(str(path), "orders"))
    return str(path)


def _process(spark, src: str, out) -> pipeline.TableState:
    df = parquet.load_table(spark, src, "orders")
    cfg = pipeline.PipelineConfig(
        sink_dir=str(out / "sink"),
        pk_by_table={"orders": "o_orderkey"},
        fastcount=True,
        source_dir=src,
    )
    return pipeline._process_table(spark, "orders", df, cfg, StateStore(str(out / "state")))


def test_cold_table_round_trips(spark, sf_smoke, tmp_path, round_trips):
    # the session's one-time lookups (JVM classes, the application id)
    # are paid by a first table, as the first table of a run pays them
    _process(spark, _cold_dir(sf_smoke, tmp_path / "warm"), tmp_path / "warm_out")

    src = _cold_dir(sf_smoke, tmp_path / "cold")
    with round_trips() as sent:
        parquet.load_table(spark, src, "orders")
    assert 0 < len(sent) <= LOAD_TABLE_BUDGET, sent

    with round_trips() as sent:
        state = _process(spark, src, tmp_path / "out")
    assert state.consistent() and state.rows_loaded == state.rows
    assert 0 < len(sent) <= PROCESS_TABLE_BUDGET, sent
