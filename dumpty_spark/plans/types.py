"""Type mapping + identifier normalization (SURVEY.md §1.2-1.3).

The reference infers schemas by SQLAlchemy reflection and deterministically
maps them to BigQuery types (reference: src/dumpty/pipeline.py:172-217);
identifiers are normalized with a regex (src/dumpty/util.py:9-10). Here the
same lattice is expressed twice:

- ``map_source_type``: source RDBMS type name → Spark DataType + BQ type
  (the ingestion direction, used when building JDBC read schemas);
- ``spark_schema_to_bq``: Spark schema → BigQuery JSON schema (the sink
  sidecar direction, SURVEY K2).

Decimal edges follow the reference exactly: scale==0 and precision<=18
narrows to INT64; NUMERIC up to scale 9 / precision scale+29; BIGNUMERIC
beyond (Spark caps DecimalType at precision 38 — the narrowing is
documented here rather than silent).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_NORMALIZE_RE = re.compile(r"[^a-zA-Z0-9]")


def normalize_str(name: str) -> str:
    """Normalize an identifier: every non-alphanumeric run char → ``_``,
    lowercased (reference: src/dumpty/util.py:9-10)."""
    return _NORMALIZE_RE.sub("_", name).lower()


def normalize_df(df: DataFrame) -> DataFrame:
    """Rename-all projection (SURVEY P1, reference pipeline.py:168-170).

    A pure projection — Catalyst collapses it into the scan, so it is free
    at any scale. A frame whose names are all normalized already comes
    back as it is, and any other is renamed by one ``toDF``: a column
    expression per name would cost a dozen py4j round trips each.
    """
    cols = df.columns
    names = [normalize_str(c) for c in cols]
    return df if names == cols else df.toDF(*names)


@dataclass(frozen=True)
class MappedType:
    spark: T.DataType
    bq: str
    precision: int | None = None
    scale: int | None = None
    warnings: tuple[str, ...] = field(default=())


_INT_NAMES = {"smallint", "tinyint", "int", "integer", "bigint"}
_STRING_NAMES = {"varchar", "nvarchar", "char", "nchar", "text", "ntext", "string", "uniqueidentifier", "xml"}
_FLOAT_NAMES = {"float", "real", "double", "double precision"}
_BINARY_NAMES = {"binary", "varbinary", "image", "bytes"}
_BOOL_NAMES = {"bit", "boolean", "bool"}
_DATETIME_NAMES = {"datetime", "datetime2", "smalldatetime", "timestamp"}


def map_source_type(
    type_name: str, precision: int | None = None, scale: int | None = None
) -> MappedType:
    """Map a source RDBMS type name to (Spark type, BigQuery type).

    Mirrors the reference lattice (pipeline.py:184-214): ints→INT64,
    datetime→DATETIME (TimestampNTZ — BigQuery DATETIME has no zone),
    date→DATE, float/real→FLOAT64, strings/uuid→STRING, bool→BOOL,
    binary→BYTES, numerics by precision/scale, anything else →STRING with
    a warning.
    """
    t = type_name.strip().lower()
    if t in _INT_NAMES:
        return MappedType(T.LongType(), "INT64")
    if t in _DATETIME_NAMES:
        return MappedType(T.TimestampNTZType(), "DATETIME")
    if t == "date":
        return MappedType(T.DateType(), "DATE")
    if t in _FLOAT_NAMES:
        return MappedType(T.DoubleType(), "FLOAT64")
    if t in _STRING_NAMES:
        return MappedType(T.StringType(), "STRING")
    if t in _BOOL_NAMES:
        return MappedType(T.BooleanType(), "BOOL")
    if t in _BINARY_NAMES:
        return MappedType(T.BinaryType(), "BYTES")
    if t in {"numeric", "decimal", "money", "smallmoney"}:
        p = precision if precision is not None else 38
        s = scale if scale is not None else 0
        if s == 0 and p <= 18:
            return MappedType(T.LongType(), "INT64", p, s)
        if 0 <= s <= 9 and max(s, 1) <= p <= s + 29:
            return MappedType(T.DecimalType(min(p, 38), s), "NUMERIC", p, s)
        if 0 <= s <= 38 and max(s, 1) <= p <= s + 38:
            warn = ()
            if p > 38:
                warn = (f"precision {p} narrowed to Spark's max DecimalType(38,{s})",)
            return MappedType(T.DecimalType(min(p, 38), s), "BIGNUMERIC", p, s, warn)
        return MappedType(
            T.StringType(), "STRING", p, s, (f"unsupported numeric({p},{s}) → STRING",)
        )
    return MappedType(T.StringType(), "STRING", warnings=(f"unknown type '{type_name}' → STRING",))


_SPARK_TO_BQ: list[tuple[type, str]] = [
    (T.ByteType, "INT64"),
    (T.ShortType, "INT64"),
    (T.IntegerType, "INT64"),
    (T.LongType, "INT64"),
    (T.DoubleType, "FLOAT64"),
    (T.FloatType, "FLOAT64"),
    (T.TimestampNTZType, "DATETIME"),
    (T.TimestampType, "DATETIME"),
    (T.DateType, "DATE"),
    (T.StringType, "STRING"),
    (T.BooleanType, "BOOL"),
    (T.BinaryType, "BYTES"),
]


def _bq_field(f: T.StructField, warnings: list[str]) -> dict:
    mode = "NULLABLE" if f.nullable else "REQUIRED"
    dt = f.dataType
    if isinstance(dt, T.DecimalType):
        bq = "NUMERIC" if dt.scale <= 9 and dt.precision <= dt.scale + 29 else "BIGNUMERIC"
        return {"name": f.name, "type": bq, "mode": mode}
    if isinstance(dt, T.ArrayType):
        inner = _bq_field(T.StructField(f.name, dt.elementType, True), warnings)
        return {"name": f.name, "type": inner["type"], "mode": "REPEATED"}
    for cls, bq in _SPARK_TO_BQ:
        if isinstance(dt, cls):
            return {"name": f.name, "type": bq, "mode": mode}
    warnings.append(f"column {f.name}: unmapped {dt.simpleString()} → STRING")
    return {"name": f.name, "type": "STRING", "mode": mode}


def spark_schema_to_bq(schema: T.StructType) -> tuple[list[dict], list[str]]:
    """Emit a BigQuery JSON schema (the K2 sidecar) from a Spark schema.

    Returns (fields, warnings) — warnings mirror the reference's fallback
    logging (pipeline.py:211-214).
    """
    warnings: list[str] = []
    return [_bq_field(f, warnings) for f in schema.fields], warnings
