"""The ANN top-k queries answer with a frame built on the driver: it plans
as a ``LocalRelation``, so collecting it starts no Spark job (a
``createDataFrame(<list>)`` answer parallelizes the list and starts a
Python-worker task per slice), and the answers still match the oracles."""

from __future__ import annotations

import pytest

from dumpty_spark.queries import REGISTRY, local_frame
from dumpty_spark.session import last_job_id
from tests.oracle import compare, run_duckdb


def _is_local(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def test_local_frame_keeps_rows_and_schema(spark):
    schema = "method string, n long, ok boolean"
    rows = [("ivf", 10, True), ("pq", 3, False)]
    df = local_frame(spark, rows, schema)
    assert _is_local(df)
    assert df.schema.simpleString() == "struct<method:string,n:bigint,ok:boolean>"
    assert [tuple(r) for r in df.collect()] == rows


@pytest.mark.parametrize("name", ["q_ann_ivf_topk", "q_ann_pq_topk"])
def test_ann_answer_is_local_and_matches_oracle(spark, sf_t2, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_t2)
    assert _is_local(df)
    j = last_job_id(spark)
    df.collect()
    assert last_job_id(spark) == j
    ok, msg = compare(df, run_duckdb(spec.oracle, sf_t2))
    assert ok, msg
