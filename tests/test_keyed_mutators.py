"""The keyed at-rest mutators (``delete_keys``, ``upsert_keys``,
``merge_keys``) agree on a plain parquet directory and a versioned store:
an update to a key that several files hold is written once, a store whose
path needs URL escaping works, and a versioned batch that changes nothing
commits nothing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dumpty_spark.sinks import manifest
from dumpty_spark.sinks.writers import delete_keys, merge_keys, upsert_keys

SCHEMA = "k long, v string"
KINDS = ("plain", "versioned")


def _store(spark, root: str, kind: str, *files: list) -> str:
    """A store of one parquet file per row list in ``files``."""
    first, *rest = (spark.createDataFrame(rows, SCHEMA) for rows in files)
    if kind == "plain":
        first.coalesce(1).write.parquet(root)
        for df in rest:
            df.coalesce(1).write.mode("append").parquet(root)
        return root
    manifest.create_store(first, root, partitions=1)
    for i, df in enumerate(rest, 1):
        staged = manifest._stage_dataframe(df, root, i, "extra", 1)
        manifest.commit_mutation(root, manifest.read_manifest(root)["files"], staged)
    return root


def _rows(spark, root: str, kind: str) -> list[tuple]:
    df = spark.read.parquet(root) if kind == "plain" else manifest.read_store(spark, root)
    return sorted(tuple(r) for r in df.select("k", "v").collect())


@pytest.mark.parametrize("kind", KINDS)
def test_update_of_a_key_in_two_files_is_written_once(spark, tmp_path, kind):
    root = _store(spark, str(tmp_path / kind), kind, [(1, "a"), (2, "b")], [(1, "a")])
    upsert_keys(spark, root, "k", spark.createDataFrame([(1, "new")], SCHEMA))
    assert _rows(spark, root, kind) == [(1, "new"), (2, "b")]

    changes = spark.createDataFrame([(1, "newer", "U")], SCHEMA + ", op string")
    root = _store(spark, str(tmp_path / f"{kind}_m"), kind, [(1, "a"), (2, "b")], [(1, "a")])
    stats = merge_keys(spark, root, "k", changes)
    assert _rows(spark, root, kind) == [(1, "newer"), (2, "b")]
    assert (stats["rows_updated"], stats["rows_inserted"]) == (2, 0)


@pytest.mark.parametrize("kind", KINDS)
def test_mutators_work_under_a_path_that_needs_escaping(spark, tmp_path, kind):
    root = _store(
        spark, str(tmp_path / "with space" / kind), kind,
        [(1, "a"), (2, "b")], [(3, "c"), (4, "d")],
    )
    assert delete_keys(spark, root, "k", [2])["rows_deleted"] == 1
    upsert_keys(spark, root, "k", spark.createDataFrame([(3, "C"), (5, "e")], SCHEMA))
    merge_keys(
        spark, root, "k",
        spark.createDataFrame([(1, None, "D"), (4, "D4", "U")], SCHEMA + ", op string"),
    )
    assert _rows(spark, root, kind) == [(3, "C"), (4, "D4"), (5, "e")]


@pytest.mark.parametrize("op", ("upsert", "merge"))
def test_versioned_batch_that_changes_nothing_commits_nothing(spark, tmp_path, op):
    root = _store(spark, str(tmp_path / "v"), "versioned", [(1, "a"), (2, "b")])
    empty = spark.createDataFrame([], SCHEMA)
    if op == "upsert":
        stats = upsert_keys(spark, root, "k", empty)
    else:
        stats = merge_keys(spark, root, "k", empty.withColumn("op", F.lit("U")))
    assert stats["version"] == 0 and "files" not in stats
    assert manifest.current_version(root) == 0
    # a delete-only merge batch that hits nothing commits nothing either
    miss = spark.createDataFrame([(9, None, "D")], SCHEMA + ", op string")
    assert merge_keys(spark, root, "k", miss)["version"] == 0
    # a batch that inserts a row still commits
    stats = upsert_keys(spark, root, "k", spark.createDataFrame([(3, "c")], SCHEMA))
    assert (stats["version"], stats["rows_inserted"]) == (1, 1)
    assert _rows(spark, root, "versioned") == [(1, "a"), (2, "b"), (3, "c")]
