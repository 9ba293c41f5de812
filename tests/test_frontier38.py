"""Round-8 batch 13: single-pass MERGE and format parity."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from dumpty_spark.queries import REGISTRY
from dumpty_spark.session import last_job_id, scratch_cleanup, warehouse_scratch
from dumpty_spark.sinks import manifest as M
from dumpty_spark.sinks.writers import merge_keys, write_range_clustered


def test_merge_keys_semantics_and_single_rewrite(spark):
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 101)], "k long, val string"
    )
    scratch = warehouse_scratch(spark, "mergeunit")
    store = f"{scratch}/s"
    try:
        write_range_clustered(base, store, ["k"], num_files=4)
        n_files = len(
            [p for p in glob.glob(f"{store}/part-*") if os.path.isfile(p)]
        )
        # a key with BOTH ops is an ambiguous MERGE — refused like
        # Delta's multiple-source-rows-matched error
        ambiguous = spark.createDataFrame(
            [(6, "x", "D"), (6, "boom", "U")], "k long, val string, op string"
        )
        with pytest.raises(ValueError, match="BOTH ops"):
            merge_keys(spark, store, "k", ambiguous)
        dup_upd = spark.createDataFrame(
            [(7, "a", "U"), (7, "b", "U")], "k long, val string, op string"
        )
        with pytest.raises(ValueError, match="duplicate update"):
            merge_keys(spark, store, "k", dup_upd)

        # k=5,6 deleted; k=7 updated; k=200 inserted.
        # 5/6/7 share one range-clustered file: exactly ONE rewrite.
        changes = spark.createDataFrame(
            [
                (5, "x", "D"),
                (6, "x", "D"),
                (7, "v7b", "U"),
                (200, "new", "U"),
            ],
            "k long, val string, op string",
        )
        m = merge_keys(spark, store, "k", changes)
        got = {
            r["k"]: r["val"] for r in spark.read.parquet(store).collect()
        }
        assert 5 not in got and 6 not in got
        assert got[7] == "v7b"
        assert got[200] == "new"
        assert len(got) == 100 - 2 + 1
        assert m["rows_deleted"] == 2
        assert m["rows_updated"] == 1
        assert m["rows_inserted"] == 1
        # keys 5,6,7 live in the same range-clustered file: ONE rewrite
        assert m["files_rewritten"] == 1
        assert m["files_rewritten"] < n_files
    finally:
        scratch_cleanup(spark, scratch)


def test_merge_keys_file_fully_consumed(spark):
    base = spark.createDataFrame(
        [(i, "v") for i in range(1, 9)], "k long, val string"
    )
    scratch = warehouse_scratch(spark, "mergeunit2")
    store = f"{scratch}/s"
    try:
        write_range_clustered(base, store, ["k"], num_files=4)
        # delete every key of the first range file (k=1,2)
        changes = spark.createDataFrame(
            [(1, "v", "D"), (2, "v", "D")], "k long, val string, op string"
        )
        merge_keys(spark, store, "k", changes)
        left = sorted(r["k"] for r in spark.read.parquet(store).collect())
        assert left == [3, 4, 5, 6, 7, 8]
    finally:
        scratch_cleanup(spark, scratch)


def _count_jobs(spark, fn):
    """Jobs ``fn`` started, from every thread."""
    j0 = last_job_id(spark)
    fn()
    return last_job_id(spark) - j0


@pytest.mark.parametrize("kind", ["plain", "versioned"])
def test_merge_keys_job_count_constant_in_hit_files(spark, kind):
    """The rewrite is ONE distributed job: total Spark job count must not
    grow with the number of hit files (the r8 per-file-loop shape cost
    one job per file), on a plain and a versioned store alike."""
    scratch = warehouse_scratch(spark, "mergejobs")
    try:
        counts = {}
        for tag, n_files in (("few", 2), ("many", 12)):
            base = spark.createDataFrame(
                [(i, f"v{i}") for i in range(1, 121)], "k long, val string"
            )
            store = f"{scratch}/{tag}"
            if kind == "plain":
                write_range_clustered(base, store, ["k"], num_files=n_files)
            else:
                M.create_store(
                    base.repartitionByRange(n_files, "k").sortWithinPartitions("k"),
                    store,
                )
            # one delete + one update per range file → every file is hit
            ks = [1 + i * (120 // n_files) for i in range(n_files)]
            changes = spark.createDataFrame(
                [(k, "x", "D") for k in ks]
                + [(k + 1, "upd", "U") for k in ks],
                "k long, val string, op string",
            )
            counts[tag] = _count_jobs(
                spark, lambda: merge_keys(spark, store, "k", changes)
            )
            if kind == "plain":
                files = [
                    p for p in glob.glob(f"{store}/part-*") if os.path.isfile(p)
                ]
            else:
                files = M.read_manifest(store)["files"]
            assert len(files) == n_files
        assert counts["many"] <= counts["few"], counts
    finally:
        scratch_cleanup(spark, scratch)


def test_merge_keys_large_key_regime(spark, monkeypatch):
    """Above _ISIN_MAX the key list is never collected and targeting is a
    broadcast join — same answers as the In-literal regime."""
    from dumpty_spark.sinks import writers as W

    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 101)], "k long, val string"
    )
    scratch = warehouse_scratch(spark, "mergebig")
    store = f"{scratch}/s"
    try:
        write_range_clustered(base, store, ["k"], num_files=4)
        changes = spark.createDataFrame(
            [(5, "x", "D"), (6, "x", "D"), (7, "v7b", "U"), (200, "new", "U")],
            "k long, val string, op string",
        )
        monkeypatch.setattr(W, "_ISIN_MAX", 0)  # force the join regime
        m = merge_keys(spark, store, "k", changes)
        got = {r["k"]: r["val"] for r in spark.read.parquet(store).collect()}
        assert 5 not in got and 6 not in got
        assert got[7] == "v7b" and got[200] == "new"
        assert len(got) == 99
        assert m["rows_deleted"] == 2 and m["rows_updated"] == 1
        assert m["rows_inserted"] == 1 and m["files_rewritten"] == 1
    finally:
        scratch_cleanup(spark, scratch)


def test_merge_audit_green_flags(spark, sf_smoke):
    row = REGISTRY["q_merge_audit"].fn(spark, sf_smoke).first()
    assert row["one_pass_ok"]
    assert row["n_rows"] > 0
    assert row["rows_deleted"] >= 0 and row["rows_inserted"] >= 0


def test_format_parity_all_ok(spark, sf_smoke):
    rows = REGISTRY["q_format_parity"].fn(spark, sf_smoke).collect()
    assert [r["format"] for r in rows] == ["csv", "json", "orc", "parquet"]
    assert all(r["fp_ok"] for r in rows)
    ns = {r["n_rows"] for r in rows}
    assert len(ns) == 1
