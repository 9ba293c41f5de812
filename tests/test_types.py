from __future__ import annotations

from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql import types as T

from dumpty_spark.plans.types import (
    map_source_type,
    normalize_df,
    normalize_str,
    spark_schema_to_bq,
)


@given(st.text(max_size=60))
def test_normalize_str_charset_and_idempotent(s):
    out = normalize_str(s)
    assert all(c.islower() or c.isdigit() or c == "_" for c in out) or out == ""
    assert normalize_str(out) == out
    assert len(out) == len(s)


def test_normalize_str_examples():
    assert normalize_str("My Table-Name") == "my_table_name"
    assert normalize_str("ALLCAPS") == "allcaps"
    assert normalize_str("weird$#col") == "weird__col"


def test_type_lattice_ints_and_scalars():
    assert map_source_type("bigint").spark == T.LongType()
    assert map_source_type("int").bq == "INT64"
    assert map_source_type("datetime").spark == T.TimestampNTZType()
    assert map_source_type("datetime").bq == "DATETIME"
    assert map_source_type("date").bq == "DATE"
    assert map_source_type("real").bq == "FLOAT64"
    assert map_source_type("uniqueidentifier").bq == "STRING"
    assert map_source_type("bit").bq == "BOOL"
    assert map_source_type("varbinary").bq == "BYTES"


def test_type_lattice_decimal_edges():
    # reference pipeline.py:198-210 semantics
    assert map_source_type("numeric", 18, 0).bq == "INT64"
    assert map_source_type("numeric", 19, 0).bq == "NUMERIC"
    assert map_source_type("numeric", 38, 10).bq == "BIGNUMERIC"
    narrowed = map_source_type("numeric", 40, 2)  # p>38 → narrowing warning
    assert narrowed.bq == "BIGNUMERIC" and narrowed.warnings
    assert narrowed.spark == T.DecimalType(38, 2)
    assert map_source_type("numeric", 50, 10).bq == "STRING"  # outside both bands
    assert map_source_type("geography").bq == "STRING"  # unknown → fallback + warning
    assert map_source_type("geography").warnings


def test_spark_schema_to_bq_modes_and_repeated():
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("ts", T.TimestampNTZType(), True),
            T.StructField("v", T.ArrayType(T.FloatType()), True),
            T.StructField("d", T.DecimalType(20, 2), True),
        ]
    )
    fields, warnings = spark_schema_to_bq(schema)
    assert fields[0] == {"name": "id", "type": "INT64", "mode": "REQUIRED"}
    assert fields[1] == {"name": "ts", "type": "DATETIME", "mode": "NULLABLE"}
    assert fields[2] == {"name": "v", "type": "FLOAT64", "mode": "REPEATED"}
    assert fields[3]["type"] == "NUMERIC"
    assert not warnings


def test_normalize_df_projection(spark):
    df = spark.createDataFrame([(1, "x")], ["Weird Col", "OTHER$name"])
    out = normalize_df(df)
    assert out.columns == ["weird_col", "other_name"]
    assert out.collect() == df.collect()


def test_normalize_df_returns_a_normalized_frame_itself(spark):
    df = spark.createDataFrame([(1, "x")], ["weird_col", "other_name"])
    assert normalize_df(df) is df
