"""Sinks (K1-K5, X6), state store (I1-I3), validation (X7/P5/P6)."""

from __future__ import annotations

import glob
import json
import os
import time

import pytest
from pyspark.sql import functions as F

from dumpty_spark.plans.state import StateStore, TableState
from dumpty_spark.sinks.writers import (
    advise_partitions,
    sink_size_bytes,
    write_ndjson,
    write_schema_sidecar,
)
from dumpty_spark.sources import load_table
from dumpty_spark.validate import reconcile_table_lists, select_incremental


def test_ndjson_roundtrip_pinned_format(spark, sf_smoke, tmp_path):
    orders = load_table(spark, sf_smoke, "orders")
    path = str(tmp_path / "orders_json")
    glob_uri = write_ndjson(orders, path)
    # gzip part files present
    assert sink_size_bytes(glob_uri) > 0
    import gzip, glob as g

    part = sorted(p for p in g.glob(f"{path}/part-*") if p.endswith(".gz"))[0]
    first = gzip.open(part, "rt").readline()
    rec = json.loads(first)
    # pinned timestamp format: "yyyy-MM-dd HH:mm:ss", no T/zone/fraction
    assert len(rec["o_orderdate"]) == 19 and rec["o_orderdate"][10] == " "
    # round-trip equality
    back = spark.read.schema(orders.schema).option(
        "timestampNTZFormat", "yyyy-MM-dd HH:mm:ss"
    ).json(path)
    assert back.count() == orders.count()
    assert back.exceptAll(orders).count() == 0


def test_ndjson_keeps_null_fields(spark, tmp_path):
    df = spark.createDataFrame([(1, None), (2, "x")], ["id", "v"])
    path = str(tmp_path / "nulls")
    write_ndjson(df, path)
    import gzip, glob as g

    lines = []
    for p in g.glob(f"{path}/part-*.gz"):
        lines += gzip.open(p, "rt").read().splitlines()
    null_line = next(l for l in lines if '"id":1' in l.replace(" ", ""))
    # null field KEPT (reference conf jsonGenerator.ignoreNullFields=false)
    assert '"v":null' in null_line.replace(" ", "")


def test_schema_sidecar(spark, sf_smoke, tmp_path):
    orders = load_table(spark, sf_smoke, "orders")
    path = str(tmp_path / "sidecar")
    warnings = write_schema_sidecar(orders, path)
    assert warnings == []
    fields = json.load(open(os.path.join(path, "_schema.json")))
    by_name = {f["name"]: f for f in fields}
    assert by_name["o_orderkey"]["type"] == "INT64"
    assert by_name["o_orderdate"]["type"] == "DATETIME"
    assert by_name["o_totalprice"]["type"] == "FLOAT64"


def test_advise_partitions_feedback():
    # 22M-rows→22-partitions heuristic example scaled: bytes drive it
    assert advise_partitions(0, 4) == 1
    assert advise_partitions(10 * 1024 * 1024, 4) == 1  # tiny → departition
    assert advise_partitions(500 * 1024 * 1024, 4) == 10  # 50MiB target
    assert advise_partitions(50 * 1024 * 1024 + 1, 1) == 2


def test_state_store_roundtrip_and_ttl(tmp_path):
    store = StateStore(str(tmp_path / "state"))
    st = TableState(name="orders", rows=100, introspect_ts=time.time())
    store.put_table(st)
    back = store.get_table("orders")
    assert back.rows == 100
    assert back.introspection_fresh(3600)
    assert not back.introspection_fresh(0.0, now=time.time() + 10)
    assert store.list_tables() == ["orders"]
    assert store.get_table("missing") is None


def test_state_store_single_writer(tmp_path):
    store = StateStore(str(tmp_path / "state"))
    with store:
        other = StateStore(str(tmp_path / "state"))
        with pytest.raises(RuntimeError, match="locked"):
            other.acquire()
    # released → acquirable again
    with StateStore(str(tmp_path / "state")):
        pass


def test_watermark_advance(tmp_path):
    store = StateStore(str(tmp_path / "state"))
    assert store.get_watermark("1970-01-01") == "1970-01-01"
    store.set_watermark("2026-08-13 00:00:00")
    assert store.get_watermark() == "2026-08-13 00:00:00"


def test_reconcile_and_incremental():
    rec = reconcile_table_lists(["Orders", "LINEITEM", "ghost"], ["orders", "lineitem", "extra"])
    assert rec.requested_missing == ("ghost",)
    assert rec.actual_extra == ("extra",)
    assert select_incremental(["a", "B", "c"], ["b", "C", "d"]) == ["B", "c"]


def test_range_clustered_write_enables_file_skipping(spark, sf_smoke, tmp_path):
    """write_range_clustered must produce files whose ts min-max ranges
    are pairwise disjoint (modulo shared boundaries) — the property
    parquet min-max skipping needs. An unclustered write of the same
    data has heavily overlapping ranges, so we assert the contrast, and
    that a tight range filter reads back exactly the right rows."""
    import pyarrow.parquet as pq

    from dumpty_spark.sinks.writers import write_range_clustered
    from dumpty_spark.sources import load_table

    ev = load_table(spark, sf_smoke, "events").select("event_id", "user_id", "ts")
    out = str(tmp_path / "events_clustered")
    write_range_clustered(ev, out, ["ts"], num_files=8)

    ranges = []
    for p in sorted(glob.glob(f"{out}/part-*.parquet")):
        md = pq.read_metadata(p)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(2)  # ts
            assert col.path_in_schema == "ts"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {hi1} > {lo2}"

    # row fidelity through the clustered layout
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    mid_lo, mid_hi = ranges[3]
    n_filtered = back.filter(
        (F.col("ts") >= F.lit(mid_lo)) & (F.col("ts") <= F.lit(mid_hi))
    ).count()
    expect = ev.filter(
        (F.col("ts") >= F.lit(mid_lo)) & (F.col("ts") <= F.lit(mid_hi))
    ).count()
    assert n_filtered == expect and n_filtered > 0


def test_zorder_write_skips_on_both_dimensions(spark, sf_smoke, tmp_path):
    """Z-ordered files must be localized in BOTH cluster columns: a
    selective user_id predicate overlaps only a minority of z-ordered
    files' [min,max] footer ranges, while under plain ts-clustering it
    overlaps ALL of them (user ids are spread through time). Fidelity:
    the z-ordered copy holds exactly the original rows."""
    import pyarrow.parquet as pq

    from dumpty_spark.operators.zorder import zorder_write
    from dumpty_spark.sinks.writers import write_range_clustered
    from dumpty_spark.sources import load_table

    ev = load_table(spark, sf_smoke, "events").select("event_id", "user_id", "ts")
    zdir, tdir = str(tmp_path / "z"), str(tmp_path / "t")
    zorder_write(ev, zdir, ["user_id", "ts"], num_files=16)
    write_range_clustered(ev, tdir, ["ts"], num_files=16)

    # a selective slice: the bottom eighth of the user domain
    umax = ev.agg(F.max("user_id")).first()[0]
    lo, hi = 0, max(1, umax // 8)

    def overlapping(path):
        n_total, n_overlap = 0, 0
        for p in sorted(glob.glob(f"{path}/part-*.parquet")):
            md = pq.read_metadata(p)
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            ci = names.index("user_id")
            mins = [md.row_group(g).column(ci).statistics.min
                    for g in range(md.num_row_groups)]
            maxs = [md.row_group(g).column(ci).statistics.max
                    for g in range(md.num_row_groups)]
            n_total += 1
            if min(mins) <= hi and max(maxs) >= lo:
                n_overlap += 1
        return n_overlap, n_total

    z_over, z_total = overlapping(zdir)
    t_over, t_total = overlapping(tdir)
    assert z_total == 16 and t_total == 16
    assert t_over == 16, "ts-clustering should not localize user_id at all"
    assert z_over <= 8, f"z-order should skip most files, overlapped {z_over}"

    back = spark.read.parquet(zdir)
    assert sorted(r["event_id"] for r in back.collect()) == sorted(
        r["event_id"] for r in ev.collect()
    )


def test_compact_parquet_merges_small_files(spark, sf_smoke, tmp_path):
    """64 tiny appended files compact to the advised count with byte-
    identical row content."""
    from dumpty_spark.sinks.writers import compact_parquet

    ev = load_table(spark, sf_smoke, "events").select("event_id", "user_id", "value")
    path = str(tmp_path / "many_small")
    ev.repartition(64).write.mode("overwrite").parquet(path)

    rows_before = {tuple(r) for r in spark.read.parquet(path).collect()}
    n_before, n_after = compact_parquet(spark, path)
    assert n_before == 64 and n_after < 8
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == rows_before
    assert not os.path.exists(path + "__compacting")
    assert not os.path.exists(path + "__pre_compact")


def test_compact_parquet_preserves_hive_partitions(spark, tmp_path):
    """Compacting the incremental-dedup fingerprint store (hive
    key=value layout) must keep the partition directories — and the
    store must keep deduplicating correctly afterwards."""
    from dumpty_spark.operators.dedup import incremental_dedup
    from dumpty_spark.sinks.writers import compact_parquet

    store = str(tmp_path / "fp")
    b1 = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(40)], ["doc_id", "text"]
    )
    assert len(incremental_dedup(spark, b1, store).collect()) == 40

    cells = os.path.join(store, "fingerprints")
    n_before, n_after = compact_parquet(spark, cells)
    assert n_after <= n_before
    # layout survived: still key=value dirs, no root-level data files
    assert any(d.startswith("_pfx=") for d in os.listdir(cells))
    assert not [f for f in os.listdir(cells) if f.startswith("part-")]

    # the store still answers correctly after compaction
    b2 = spark.createDataFrame(
        [(100, "doc number 7"), (101, "a brand new doc")], ["doc_id", "text"]
    )
    got = sorted(r["doc_id"] for r in incremental_dedup(spark, b2, store).collect())
    assert got == [101]


def test_format_matrix_roundtrip(spark, sf_smoke, tmp_path):
    """K3 parity: every load format the reference's BigQuery sink accepts
    (csv / orc — json and parquet have dedicated tests) round-trips rows
    and values under the pinned timestamp format."""
    from dumpty_spark.sinks.writers import write_format

    orders = load_table(spark, sf_smoke, "orders")
    for fmt in ["csv", "orc"]:
        path = str(tmp_path / f"orders_{fmt}")
        write_format(orders, path, fmt)
        reader = spark.read.schema(orders.schema)
        if fmt == "csv":
            back = reader.options(
                header=True, timestampNTZFormat="yyyy-MM-dd HH:mm:ss"
            ).csv(path)
        else:
            back = reader.orc(path)
        assert back.count() == orders.count(), fmt
        assert back.exceptAll(orders).count() == 0, fmt
    with pytest.raises(ValueError):
        write_format(orders, str(tmp_path / "x"), "avro")


@pytest.mark.parametrize("writer", ["write_parquet", "write_ndjson"])
def test_one_file_sink_needs_no_exchange(spark, sf_smoke, tmp_path, writer):
    """An input that already reads as the requested number of partitions
    is written as it comes: one file per partition, one job, no shuffle
    (one file over a one-partition scan, three over a three-split scan).
    Any other count keeps the exchange: one file over the three-split
    scan, so the scan still runs as three tasks, and three files over the
    one-partition scan, so the rows are balanced."""
    from dumpty_spark.sinks import writers
    from dumpty_spark.session import jobs_after, last_job_id

    write = getattr(writers, writer)
    orders = load_table(spark, sf_smoke, "orders")
    assert orders.rdd.getNumPartitions() == 1
    orders.repartition(3).write.parquet(str(tmp_path / "split"))
    split = spark.read.parquet(str(tmp_path / "split"))
    assert split.rdd.getNumPartitions() == 3

    cases = [("one", orders, 1, False), ("three", split, 3, False),
             ("merged", split, 1, True), ("spread", orders, 3, True)]
    for name, df, n, exchange in cases:
        mark = last_job_id(spark)
        out = write(df, str(tmp_path / name), partitions=n)
        jobs = jobs_after(spark, mark)
        assert len(glob.glob(out)) == n
        if exchange:
            assert sum(j["shuffle_bytes"] for j in jobs) > 0
        else:
            assert len(jobs) == 1 and jobs[0]["shuffle_bytes"] == 0


def test_partition_count_answers_from_the_scan(spark, sf_smoke, tmp_path):
    """A scan under operators that keep its partitions (a rename, an
    observation) is counted off the scan's RDD, and agrees with
    executing the plan; a coalesce or a union is counted by executing
    the plan, and a plan with an exchange gives None under AQE."""
    from pyspark.sql import Observation

    from dumpty_spark.plans.types import normalize_df
    from dumpty_spark.sinks.writers import _partition_count, _scan_partitions

    orders = load_table(spark, sf_smoke, "orders")
    orders.repartition(3).write.parquet(str(tmp_path / "split"))
    split = spark.read.parquet(str(tmp_path / "split"))

    def plan(df):
        return df._jdf.queryExecution().executedPlan()

    for i, (df, n) in enumerate(((orders, 1), (split, 3))):
        renamed = normalize_df(df.toDF(*[c.upper() for c in df.columns]))
        observed = renamed.observe(Observation(f"pc{i}"), F.count(F.lit(1)).alias("n"))
        for shaped in (df, renamed, observed):
            assert _scan_partitions(plan(shaped)) == n
            assert _partition_count(shaped) == plan(shaped).execute().getNumPartitions() == n
    for shaped, n in ((split.coalesce(2), 2), (orders.union(split), 4)):
        assert _scan_partitions(plan(shaped)) is None
        assert _partition_count(shaped) == plan(shaped).execute().getNumPartitions() == n
    exchanged = orders.repartition(2)
    assert _scan_partitions(plan(exchanged)) is None
    assert _partition_count(exchanged) is None


def _exchange(df) -> str:
    """The partitioning of the exchange in ``df``'s executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return next(line for line in plan.splitlines() if "Exchange" in line)


def test_sized_hashes_every_hashable_column(spark, sf_smoke):
    """Into more than one file, ``_sized`` routes each row by a hash of
    every column (no round robin, so no sort before the exchange); into
    one file it keeps ``repartition(1)``."""
    from dumpty_spark.sinks.writers import _sized

    orders = load_table(spark, sf_smoke, "orders")
    exchange = _exchange(_sized(orders, 3))
    assert "hashpartitioning(" in exchange and "RoundRobinPartitioning" not in exchange
    hashed = exchange.split("hashpartitioning(", 1)[1]
    assert all(f"{c}#" in hashed for c in orders.columns), exchange
    assert "SinglePartition" in _exchange(_sized(orders.union(orders), 1))


def test_hashed_files_do_not_depend_on_input_order(spark, tmp_path):
    """A row's file depends only on its content: the same rows read in
    two orders over four partitions give the same rows in each file,
    which is what a retried map task relies on."""
    import gzip

    rows = [(i, f"v{i % 7}", i * 0.5) for i in range(300)]
    files = []
    for i, order in enumerate((rows, rows[::-1])):
        df = spark.createDataFrame(
            spark.sparkContext.parallelize(order, 4), "k long, s string, x double"
        )
        out = write_ndjson(df, str(tmp_path / f"o{i}"), partitions=3)
        files.append({
            os.path.basename(p)[:10]: frozenset(gzip.open(p, "rt").read().splitlines())
            for p in glob.glob(out)
        })
    assert len(files[0]) == 3 and sum(len(v) for v in files[0].values()) == len(rows)
    assert files[0] == files[1]


def test_map_columns_are_not_hashed(spark, tmp_path):
    """Spark cannot hash a map or a variant, at any depth: the exchange
    hashes the other columns and every row is written; a frame with no
    hashable column falls back to round robin."""
    from dumpty_spark.sinks.writers import _sized, write_parquet

    df = spark.range(200).select(
        F.col("id"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.struct(F.create_map(F.lit("k"), F.col("id")).alias("m")).alias("sm"),
        F.array(F.create_map(F.lit("k"), F.col("id"))).alias("am"),
        F.parse_json(F.format_string('{"a": %d}', F.col("id"))).alias("v"),
    )
    hashed = _exchange(_sized(df, 3)).split("hashpartitioning(", 1)[1]
    assert hashed.startswith("id#") and ", 3)" in hashed
    assert not any(f"{c}#" in hashed for c in ("m", "sm", "am", "v"))
    out = write_parquet(df, str(tmp_path / "maps"), partitions=3)
    back = spark.read.parquet(str(tmp_path / "maps"))
    assert len(glob.glob(out)) == 3 and back.count() == 200
    assert sorted(r["id"] for r in back.select("id").collect()) == list(range(200))

    only_map = df.select("m")
    assert "RoundRobinPartitioning(3)" in _exchange(_sized(only_map, 3))
    write_parquet(only_map, str(tmp_path / "only_map"), partitions=3)
    assert spark.read.parquet(str(tmp_path / "only_map")).count() == 200


def test_delete_keys_rewrites_only_hit_files(spark, sf_smoke, tmp_path):
    """Targeted delete: only files containing the keys are rewritten (by
    mtime), a fully-matching file is removed, other files' bytes are
    untouched, and the surviving dataset is exactly original minus keys."""
    import glob as g
    import os

    from dumpty_spark.sinks.writers import delete_keys, write_range_clustered

    docs = load_table(spark, sf_smoke, "documents")
    path = str(tmp_path / "docs_rc")
    write_range_clustered(docs, path, ["doc_id"], num_files=8)
    files_before = sorted(p for p in g.glob(f"{path}/part-*") if os.path.isfile(p))
    sizes_before = {p: (os.path.getmtime(p), os.path.getsize(p)) for p in files_before}

    n_before = docs.count()
    # keys clustered at the low end of the range layout → few hit files
    keys = [0, 1, 2]
    stats = delete_keys(spark, path, "doc_id", keys)
    assert stats["rows_deleted"] == 3
    assert 1 <= stats["files_rewritten"] + stats["files_removed"] <= 2

    back = spark.read.parquet(path)
    assert back.count() == n_before - 3
    assert back.filter(F.col("doc_id").isin(keys)).count() == 0

    files_after = sorted(p for p in g.glob(f"{path}/part-*") if os.path.isfile(p))
    untouched = [p for p in files_after if p in sizes_before]
    changed = [
        p for p in untouched
        if (os.path.getmtime(p), os.path.getsize(p)) != sizes_before[p]
    ]
    # every changed file must have been a hit file
    assert len(changed) == stats["files_rewritten"]
    assert len(files_before) - len(files_after) == stats["files_removed"]

    # deleting keys that exist nowhere rewrites nothing
    stats2 = delete_keys(spark, path, "doc_id", [10**12])
    assert stats2["files_rewritten"] == 0 and stats2["rows_deleted"] == 0


def test_upsert_keys_merges_in_place(spark, sf_smoke, tmp_path):
    """Keyed upsert: updated keys replace their rows with ONLY the hit
    files rewritten; new keys append; total row count = old + inserts;
    replaying the same batch is idempotent."""
    import glob as g
    import os

    from dumpty_spark.sinks.writers import upsert_keys, write_range_clustered

    docs = load_table(spark, sf_smoke, "documents")
    path = str(tmp_path / "docs_up")
    write_range_clustered(docs, path, ["doc_id"], num_files=8)
    n0 = docs.count()
    files0 = {p for p in g.glob(f"{path}/part-*") if os.path.isfile(p)}

    updates = spark.createDataFrame(
        [(0, "REPLACED zero", "en", "srcX", 13),
         (1, "REPLACED one", "en", "srcX", 12),
         (10**9, "BRAND NEW", "de", "srcX", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    stats = upsert_keys(spark, path, "doc_id", updates)
    assert stats["rows_updated"] == 2 and stats["rows_inserted"] == 1
    assert 1 <= stats["files_rewritten"] <= 2

    back = spark.read.parquet(path)
    assert back.count() == n0 + 1
    got = {
        r["doc_id"]: r["text"]
        for r in back.filter(F.col("doc_id").isin([0, 1, 10**9])).collect()
    }
    assert got == {0: "REPLACED zero", 1: "REPLACED one", 10**9: "BRAND NEW"}
    # appended files are new; untouched originals survive
    files1 = {p for p in g.glob(f"{path}/part-*") if os.path.isfile(p)}
    assert files0 <= files1 and len(files1) == len(files0) + 1

    # replay: same values re-applied, nothing inserted twice
    stats2 = upsert_keys(spark, path, "doc_id", updates)
    assert stats2["rows_inserted"] == 0 and stats2["rows_updated"] == 3
    assert spark.read.parquet(path).count() == n0 + 1
