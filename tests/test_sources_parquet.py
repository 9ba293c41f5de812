"""Parquet source: the footer-read schema equals Spark's inferred one, and
a cold load starts no Spark job. The relation memo's thread safety is
tested with the other session-memo caches in test_session_memo.py."""

from __future__ import annotations

import os
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

from dumpty_spark.sources import parquet as P
from dumpty_spark.session import jobs_after, last_job_id


def test_footer_schema_matches_inference_on_fixtures(spark, sf_smoke):
    for name in P.TABLES:
        path = P.table_path(sf_smoke, name)
        assert P.footer_schema(spark, path) == spark.read.parquet(path).schema, name


def test_footer_schema_matches_inference_on_spark_written_dir(spark, tmp_path):
    out = str(tmp_path / "typed")
    spark.sql(
        """
        SELECT cast(id AS tinyint) AS t,
               cast(id * 1.25 AS decimal(12, 2)) AS d,
               timestamp_seconds(id * 3600) AS ts,
               cast(timestamp_seconds(id * 60) AS timestamp_ntz) AS ntz,
               array(id, id + 1) AS arr,
               named_struct('a', id, 'b', cast(id AS string)) AS st
        FROM range(30)
        """
    ).repartition(3).write.parquet(out)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 3
    got = P.footer_schema(spark, out)
    assert got == spark.read.parquet(out).schema
    assert [f.dataType.simpleString() for f in got.fields] == [
        "tinyint", "decimal(12,2)", "timestamp", "timestamp_ntz",
        "array<bigint>", "struct<a:bigint,b:string>",
    ]


def test_footer_schema_matches_inference_on_pyarrow_written_dir(spark, tmp_path):
    """Files without Spark's stored row schema go through the converter:
    the same typed columns as above, written by pyarrow into three files."""
    out = tmp_path / "typed"
    out.mkdir()
    for k in range(3):
        ids = list(range(k * 10, k * 10 + 10))
        pq.write_table(
            pa.table({
                "t": pa.array(ids, pa.int8()),
                "d": pa.array([Decimal(i) / 4 for i in ids], pa.decimal128(12, 2)),
                "ts": pa.array([i * 3_600_000_000 for i in ids], pa.timestamp("us", tz="UTC")),
                "ntz": pa.array([i * 60_000_000 for i in ids], pa.timestamp("us")),
                "arr": pa.array([[i, i + 1] for i in ids], pa.list_(pa.int64())),
                "st": pa.array([{"a": i, "b": str(i)} for i in ids],
                               pa.struct([("a", pa.int64()), ("b", pa.string())])),
            }),
            str(out / f"part-{k:05d}.parquet"),
        )
    for f in out.iterdir():
        assert b"org.apache.spark.sql.parquet.row.metadata" not in pq.read_metadata(f).metadata
    got = P.footer_schema(spark, str(out))
    assert got == spark.read.parquet(str(out)).schema
    assert [f.dataType.simpleString() for f in got.fields] == [
        "tinyint", "decimal(12,2)", "timestamp", "timestamp_ntz",
        "array<bigint>", "struct<a:bigint,b:string>",
    ]


def test_footer_schema_nanos_as_long(spark, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns")),
                  "v": pa.array([1], pa.int32())}),
        path,
    )
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    got = P.footer_schema(spark, path)
    assert got == spark.read.parquet(path).schema
    assert got["ts"].dataType.simpleString() == "bigint"


def _fixture_copy(sf_smoke: str, dst, names) -> str:
    """A fresh directory of hard links: a cold key for the relation memo."""
    os.makedirs(dst)
    for n in names:
        os.link(P.table_path(sf_smoke, n), P.table_path(str(dst), n))
    return str(dst)


def test_cold_load_table_starts_no_job(spark, sf_smoke, tmp_path):
    names = ("customer", "orders", "events")
    sf = _fixture_copy(sf_smoke, tmp_path / "cold", names)
    mark = last_job_id(spark)
    frames = {n: P.load_table(spark, sf, n) for n in names}
    assert jobs_after(spark, mark) == []
    for n, df in frames.items():
        assert df.schema == P.load_table(spark, sf_smoke, n).schema, n
    assert frames["events"].schema["ts"].dataType.simpleString() == "timestamp_ntz"
