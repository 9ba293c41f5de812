"""Round-10 ADVICE.md fixes, pinned:

1. merge_keys refuses ops outside {'U','D'} (incl. NULL) instead of
   silently deleting the key's store rows at rest.
2. _rewrite_in_place validates the one-part-per-_fid invariant for EVERY
   file BEFORE the first swap (all-or-nothing — no half-swapped store),
   and raises instead of discarding extra parts.
3. A stale __rewrite_shadow dir from a crashed prior run is cleared
   unconditionally, even under partitionOverwriteMode=dynamic.
4. The mutation family refuses stores that already own a reserved
   internal column name (_src/_path/_fid).
5. The 'never driver-collected' scalability overclaim is softened in the
   manifest/writers docs (broadcast still bounds the large regime).
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from dumpty_spark.session import warehouse_scratch
from dumpty_spark.sinks.writers import delete_keys, merge_keys, upsert_keys


def _mk_store(spark, scratch, n=40, files=4, extra_col=None):
    cols = "k long, val string"
    rows = [(i, f"v{i}") for i in range(n)]
    if extra_col:
        cols += f", {extra_col} string"
        rows = [(i, f"v{i}", "x") for i in range(n)]
    df = spark.createDataFrame(rows, cols)
    store = f"{scratch}/s"
    df.repartition(files).write.mode("overwrite").parquet(store)
    return store


def test_merge_keys_refuses_unknown_ops(spark):
    scratch = warehouse_scratch(spark, "advr10a")
    store = _mk_store(spark, scratch)
    before = {r["k"]: r["val"] for r in spark.read.parquet(store).collect()}

    bad = spark.createDataFrame(
        [(3, "x", "I"), (4, "y", "U")], "k long, val string, op string"
    )
    with pytest.raises(ValueError, match="outside"):
        merge_keys(spark, store, "k", bad)

    null_op = spark.createDataFrame(
        [(5, "x", None)], "k long, val string, op string"
    )
    with pytest.raises(ValueError, match="outside"):
        merge_keys(spark, store, "k", null_op)

    # lowercase op is NOT treated as a no-op or a delete — refused
    lower = spark.createDataFrame(
        [(6, "x", "u")], "k long, val string, op string"
    )
    with pytest.raises(ValueError, match="outside"):
        merge_keys(spark, store, "k", lower)

    # a NULL key among the refused keys is named in the ValueError — not
    # a TypeError from sorting None against the other keys
    null_unknown = spark.createDataFrame(
        [(None, "x", "I"), (5, "y", "I")], "k long, val string, op string"
    )
    with pytest.raises(ValueError, match="outside"):
        merge_keys(spark, store, "k", null_unknown)
    null_both = spark.createDataFrame(
        [(None, "x", "D"), (None, "y", "U"), (6, "a", "D"), (6, "b", "U")],
        "k long, val string, op string",
    )
    with pytest.raises(ValueError, match="BOTH ops"):
        merge_keys(spark, store, "k", null_both)

    # the store is untouched by any refused merge
    after = {r["k"]: r["val"] for r in spark.read.parquet(store).collect()}
    assert after == before


def test_rewrite_multi_part_invariant_raises_before_any_swap(spark):
    """Force the shadow write to split a _fid partition into several part
    files (session-wide maxRecordsPerFile) and assert the rewrite refuses
    all-or-nothing: error raised, store bit-identical to before."""
    scratch = warehouse_scratch(spark, "advr10b")
    store = _mk_store(spark, scratch, n=40, files=2)  # ~20 rows per file
    before = {r["k"]: r["val"] for r in spark.read.parquet(store).collect()}
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "3")
    try:
        with pytest.raises(Exception, match="one-part-per-file"):
            delete_keys(spark, store, "k", [0, 25])
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")
    after = {r["k"]: r["val"] for r in spark.read.parquet(store).collect()}
    assert after == before  # nothing swapped, nothing lost
    # and the shadow dir is not left behind to poison the NEXT run's swap
    # (it is cleared at the start of the next rewrite regardless)
    ok = delete_keys(spark, store, "k", [0, 25])
    assert ok["rows_deleted"] == 2
    got = {r["k"] for r in spark.read.parquet(store).collect()}
    assert got == set(range(40)) - {0, 25}


def test_stale_shadow_cleared_under_dynamic_overwrite(spark):
    """A crashed prior run's leftover __rewrite_shadow must never be
    swapped in as current content — even when the session runs
    partitionOverwriteMode=dynamic (where mode('overwrite') would NOT
    clear stale _fid dirs)."""
    scratch = warehouse_scratch(spark, "advr10c")
    store = _mk_store(spark, scratch, n=20, files=1)
    shadow = store + "__rewrite_shadow"
    # poison: a valid parquet file under _fid=0 with WRONG content
    poison = spark.createDataFrame([(999, "poison")], "k long, val string")
    poison.coalesce(1).write.parquet(f"{shadow}/_fid=0")
    # the nested write lands part files under _fid=0/ as a plain dir —
    # shape-compatible with what a crashed shadow write leaves behind
    mode0 = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        delete_keys(spark, store, "k", [7])
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", mode0)
    got = {r["k"]: r["val"] for r in spark.read.parquet(store).collect()}
    assert 999 not in got and "poison" not in got.values()
    assert set(got) == set(range(20)) - {7}


def test_reserved_internal_columns_refused(spark):
    scratch = warehouse_scratch(spark, "advr10d")
    store = _mk_store(spark, scratch, extra_col="_src")
    with pytest.raises(ValueError, match="_src"):
        delete_keys(spark, store, "k", [1])
    upd = spark.createDataFrame(
        [(1, "new", "x")], "k long, val string, _src string"
    )
    with pytest.raises(ValueError, match="reserve"):
        upsert_keys(spark, store, "k", upd)
    ch = upd.withColumn("op", F.lit("U"))
    with pytest.raises(ValueError, match="reserve"):
        merge_keys(spark, store, "k", ch)
    # store untouched by all three refusals
    assert spark.read.parquet(store).count() == 40


def test_broadcast_claim_softened_in_docs():
    """ADVICE r9 low: 'NEVER driver-collected' overstated the large-regime
    scalability (broadcast materializes keys through the driver). The
    phrase must not survive anywhere in the mutation family's docs."""
    import dumpty_spark.sinks.manifest as m
    import dumpty_spark.sinks.writers as w

    for mod in (m, w):
        src = open(mod.__file__).read()
        assert "NEVER driver-collected" not in src
        assert "never driver-collected" not in src
