"""The per-table py4j budget of the fleet ingest path.

Every py4j round trip from the driver is a socket exchange with the JVM,
made on the thread that asks, and a small table's ingest is mostly made
of them. A cold ``load_table`` and one parquet-sink ``_process_table``
over an ``sf_smoke`` table are pinned at or under the round trips they
make now (75 and 202 for ``orders`` before the JVM-class memo, the
one-call rename and the scan-leaf partition count). Only the calling
thread's commands are counted; py4j's release of collected Java objects
(``m d``), which runs wherever Python's GC happens to run, is not."""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

import py4j.clientserver

from dumpty_spark import pipeline
from dumpty_spark.plans.state import StateStore
from dumpty_spark.sources import parquet

LOAD_TABLE_BUDGET = 22
PROCESS_TABLE_BUDGET = 26


@contextmanager
def _round_trips(monkeypatch):
    sent: list[str] = []
    me = threading.current_thread()
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, command):
        if threading.current_thread() is me and not command.startswith("m\nd\n"):
            sent.append(command)
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counted)
    yield sent
    monkeypatch.undo()


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


def test_cold_table_round_trips(spark, sf_smoke, tmp_path, monkeypatch):
    # the session's one-time lookups (JVM classes, the application id)
    # are paid by a first table, as the first table of a run pays them
    _process(spark, _cold_dir(sf_smoke, tmp_path / "warm"), tmp_path / "warm_out")

    src = _cold_dir(sf_smoke, tmp_path / "cold")
    with _round_trips(monkeypatch) as sent:
        parquet.load_table(spark, src, "orders")
    assert 0 < len(sent) <= LOAD_TABLE_BUDGET, sent

    with _round_trips(monkeypatch) as sent:
        state = _process(spark, src, tmp_path / "out")
    assert state.consistent() and state.rows_loaded == state.rows
    assert 0 < len(sent) <= PROCESS_TABLE_BUDGET, sent
