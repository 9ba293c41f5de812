"""The t2 query registry: every operator claimed in SURVEY.md §2 declares
at least one named query here, plus (when SQL-expressible) a DuckDB oracle
string the driver hash-compares against at sf0.01.

Contract (see __spark_entry__.py): the Spark callable takes
``(spark, sf_dir)`` and returns a DataFrame whose column NAMES and VALUES
match the oracle exactly — every computed column is aliased identically on
both sides, doubles are rounded on both sides, timestamps are emitted as
formatted strings on both sides (Spark session TZ is UTC; DuckDB is
UTC-naive).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver does a rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: add a (query, oracle) pair to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """``rows`` as a frame built on the driver. Through pandas and Arrow
    with an explicit schema it plans as a ``LocalRelation``, where
    ``createDataFrame(<list>)`` parallelizes the list and starts a
    Python-worker task per slice even for a one-row answer."""
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    return spark.createDataFrame(pd.DataFrame(rows, columns=struct.names), struct)


def queries() -> dict[str, QueryFn]:
    return {k: v.fn for k, v in sorted(REGISTRY.items())}


def oracle_sql() -> dict[str, str]:
    return {k: v.oracle for k, v in sorted(REGISTRY.items()) if v.oracle is not None}


# Import for registration side effects (order = registry grouping).
from dumpty_spark.queries import (  # noqa: E402,F401
    analytics,
    curation,
    dedup,
    frontier,
    frontier2,
    frontier3,
    frontier4,
    frontier5,
    frontier6,
    frontier7,
    frontier8,
    frontier9,
    frontier10,
    frontier11,
    frontier12,
    frontier13,
    frontier14,
    frontier15,
    frontier16,
    frontier17,
    frontier18,
    frontier19,
    frontier20,
    frontier21,
    frontier22,
    frontier23,
    frontier24,
    frontier25,
    frontier26,
    frontier27,
    frontier28,
    frontier29,
    frontier30,
    frontier31,
    frontier32,
    frontier33,
    frontier34,
    frontier35,
    frontier36,
    frontier37,
    frontier38,
    frontier39,
    frontier40,
    frontier41,
    frontier43,
    frontier44,
    frontier45,
    frontier46,
    frontier47,
    frontier48,
    ingest,
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    relational6,
    relational7,
    relational8,
    report,
    sampling,
    scale,
    scale2,
    scale3,
    stream,
    subqueries,
    temporal,
    text,
    text2,
    text3,
    text4,
    text5,
    tpch2,
    tpch3,
    udf,
    vector,
)
