"""Sinks (SURVEY §2.1 K1-K5, §2.9 X6).

NDJSON-gzip is the reference's officially supported format because it
round-trips BigQuery DATETIME (reference README.md:15); we keep its exact
serialization contract — pinned ``timestampFormat`` "yyyy-MM-dd HH:mm:ss"
(reference config.py:20) and nulls retained in output (session conf
``spark.sql.jsonGenerator.ignoreNullFields=false``) — and default Parquet
for everything else.

The target-size feedback loop (X6, reference pipeline.py:500-519): after
a write, observed bytes / target-size → the partition count the NEXT run
should use. Within one query AQE already coalesces; this advisory is the
CROSS-RUN knob the reference persisted in TinyDB (we put it in the state
store).
"""

from __future__ import annotations

import glob
import json
import os
from math import ceil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dumpty_spark.plans.types import spark_schema_to_bq

TIMESTAMP_FORMAT = "yyyy-MM-dd HH:mm:ss"  # reference config.py:20
TARGET_PARTITION_BYTES = 50 * 1024 * 1024  # reference config.py:53


def _sized(df: DataFrame, partitions: int | None) -> DataFrame:
    """Shape ``df`` into ``partitions`` output files (None: as it comes).
    An input that already reads as that many partitions is written as it
    comes: each of its tasks scans, encodes and writes one file, and a
    round-robin exchange would buy only a shuffle-map job and the local
    sort Spark runs before it. Any other input is ``repartition``ed, so
    its scan and its encode both run in parallel — ``coalesce`` would
    pull a multi-partition scan into fewer tasks."""
    if not partitions or _partition_count(df) == partitions:
        return df
    return df.repartition(partitions)


def _partition_count(df: DataFrame) -> int | None:
    """How many partitions ``df``'s physical plan yields, answered by
    planning alone. A plan AQE wraps holds an exchange or a subquery, and
    asking its partition count would run them, so it gives None."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan" or not plan.subqueriesAll().isEmpty():
        return None
    return plan.execute().getNumPartitions()


def write_ndjson(
    df: DataFrame,
    path: str,
    partitions: int | None = None,
    compression: str = "gzip",
) -> str:
    """K1: newline-delimited JSON, gzip, overwrite — the reference's sink
    signature (pipeline.py:466-467). Returns a part-file glob."""
    out = _sized(df, partitions)
    (
        out.write.mode("overwrite")
        .option("timestampFormat", TIMESTAMP_FORMAT)
        .option("timestampNTZFormat", TIMESTAMP_FORMAT)
        .option("compression", compression)
        .format("json")
        .save(path)
    )
    return f"{path}/part-*"


def write_format(
    df: DataFrame,
    path: str,
    fmt: str,
    partitions: int | None = None,
) -> str:
    """K3 format matrix: the reference's BigQuery load accepts
    json/csv/parquet/orc (gcp.py:146-183); our sink writes any of them
    with the same pinned timestamp semantics. CSV gets a header so it
    round-trips column names."""
    if fmt not in {"json", "csv", "parquet", "orc"}:
        raise ValueError(f"unsupported sink format: {fmt}")
    out = _sized(df, partitions)
    w = (
        out.write.mode("overwrite")
        .option("timestampFormat", TIMESTAMP_FORMAT)
        .option("timestampNTZFormat", TIMESTAMP_FORMAT)
    )
    if fmt == "csv":
        w = w.option("header", "true")
    w.format(fmt).save(path)
    return f"{path}/part-*"


def write_parquet(df: DataFrame, path: str, partitions: int | None = None) -> str:
    out = _sized(df, partitions)
    out.write.mode("overwrite").parquet(path)
    return f"{path}/part-*"


def write_schema_sidecar(df: DataFrame, path: str) -> list[str]:
    """K2: BigQuery JSON schema written next to the data (driver-side,
    reference pipeline.py:525-533). Returns mapping warnings."""
    fields, warnings = spark_schema_to_bq(df.schema)
    os.makedirs(path, exist_ok=True)
    # underscore prefix: Spark/Hadoop readers skip _-prefixed files, so the
    # sidecar can live next to the data without breaking re-reads
    with open(os.path.join(path, "_schema.json"), "w") as f:
        json.dump(fields, f, indent=2)
    return warnings


def write_empty_table(spark, schema: T.StructType, path: str) -> None:
    """K4: rows==0 → schema-only sink (reference pipeline.py:490-494)."""
    spark.createDataFrame([], schema).write.mode("overwrite").format("json").save(path)
    write_schema_sidecar(spark.createDataFrame([], schema), path)


def sink_size_bytes(path_glob: str) -> int:
    """K5: sum byte sizes of part files matching a glob (reference
    gcp.py:29-51). Local-FS implementation; on a cluster the same glob
    goes through Hadoop ``globStatus``."""
    return sum(os.path.getsize(p) for p in glob.glob(path_glob) if os.path.isfile(p))


def advise_partitions(
    observed_bytes: int,
    current_partitions: int,
    target_bytes: int = TARGET_PARTITION_BYTES,
) -> int:
    """X6: next-run partition count from observed output size. <1 target
    unit → departition to 1 (reference pipeline.py:500-519 semantics)."""
    if observed_bytes <= 0:
        return 1
    advised = ceil(observed_bytes / target_bytes)
    return max(1, advised)


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int = 8,
) -> str:
    """Range-clustered parquet: ``repartitionByRange`` on the cluster
    key then sort within each partition before writing. Every output
    file covers a narrow, (near-)disjoint key range, so a filtered scan
    skips whole files/row-groups on parquet min-max statistics — the
    poor man's z-order, and at 100 TB the difference between scanning a
    day and scanning the archive for time-range queries on ``events``.

    ``repartitionByRange`` samples boundaries nondeterministically; that
    is safe HERE because the subtree is evaluated exactly once (a single
    write action) — never reuse this pattern where two evaluations of
    the same frame must agree (see operators/rownum.py, which derives
    boundaries via approxQuantile for exactly that reason).
    """
    out = df.repartitionByRange(num_files, *cluster_cols).sortWithinPartitions(
        *cluster_cols
    )
    out.write.mode("overwrite").parquet(path)
    return f"{path}/part-*"


def compact_parquet(
    spark,
    path: str,
    target_bytes: int = TARGET_PARTITION_BYTES,
) -> tuple[int, int]:
    """Small-files compaction: rewrite a parquet dataset into
    ``ceil(observed_bytes / target_bytes)`` files (the X6 sizing
    advisory applied to data already at rest, not just the next run).
    Small files are the silent killer of 100 TB scans — every file costs
    a task, a footer read, and an open; streaming/incremental appends
    (foreachBatch, incremental_dedup's store) accumulate them, and this
    is the maintenance pass that pays the debt.

    Hive-partitioned layouts (``key=value`` subdirectories, e.g. the
    incremental-dedup fingerprint store) are compacted LEAF BY LEAF, so
    the partition directory structure — and every reader's partition
    pruning — survives unchanged.

    Returns (files_before, files_after) summed over leaves. Each leaf is
    swapped via temp-dir + two renames; the dataset is briefly absent
    between them (NOT atomic — schedule around readers), and a crash
    mid-swap leaves ``__pre_compact``/``__compacting`` directories that
    the next call detects and rolls back before proceeding. Single
    writer assumed, like every at-rest store here.

    Leaves are compacted CONCURRENTLY on driver threads (each leaf is
    one independent rewrite job; leaves don't share files, so the
    recover/swap protocol per leaf is unaffected) — a thousand-leaf
    hive store must not serialize into a thousand back-to-back jobs
    (the r9 mutation-family discipline applied to the maintenance
    pass; per-leaf sizing keeps the one-job-per-leaf shape, Delta
    OPTIMIZE style, rather than one global rewrite that would have to
    re-derive every leaf's target file count inside one plan).
    """
    import glob as g
    import os
    import shutil

    from dumpty_spark.sinks import manifest as _m

    if _m.is_versioned(path.rstrip("/")):
        # versioned store → snapshot-isolated commit path (sinks/manifest.py)
        out = _m.compact_versioned(spark, path.rstrip("/"), target_bytes)
        return out["files_before"], out["files_after"]

    def leaf_dirs(root: str) -> list[str]:
        leaves = []
        for dirpath, dirnames, filenames in os.walk(root):
            if any(f.startswith("part-") for f in filenames):
                leaves.append(dirpath)
        return leaves or [root]

    def recover(leaf: str) -> None:
        tmp, old = leaf + "__compacting", leaf + "__pre_compact"
        if os.path.isdir(old):
            # crashed between renames: the original is intact in old
            if os.path.isdir(leaf):
                shutil.rmtree(leaf)
            os.rename(old, leaf)
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)

    def compact_leaf(leaf: str) -> tuple[int, int]:
        recover(leaf)
        before = [
            p for p in g.glob(os.path.join(leaf, "part-*")) if os.path.isfile(p)
        ]
        observed = sum(os.path.getsize(p) for p in before)
        n_files = advise_partitions(observed, len(before), target_bytes)
        df = spark.read.parquet(leaf)
        tmp, old = leaf + "__compacting", leaf + "__pre_compact"
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
        os.rename(leaf, old)
        os.rename(tmp, leaf)
        shutil.rmtree(old)
        after = [
            p for p in g.glob(os.path.join(leaf, "part-*")) if os.path.isfile(p)
        ]
        return len(before), len(after)

    leaves = leaf_dirs(path.rstrip("/"))
    if len(leaves) == 1:
        totals = [compact_leaf(leaves[0])]
    else:
        from dumpty_spark.operators.util import run_overlapped

        totals = run_overlapped(
            spark,
            [(lambda lf=lf: compact_leaf(lf)) for lf in leaves],
            max_workers=min(8, len(leaves)),
        )
    return sum(b for b, _ in totals), sum(a for _, a in totals)


# --------------------------------------------------------------------------
# At-rest mutation family (delete_keys / upsert_keys / merge_keys) shared
# machinery. Two design rules, both for the 100 TB CDC case:
#
# 1. TWO-REGIME KEY TARGETING: below _ISIN_MAX keys an ``isin`` literal is
#    used (it reaches the parquet scan as an In filter — row-group min/max
#    and dictionary pruning find the hit files with a metadata pass); above
#    it, a broadcast semi/anti join against a distinct-keys frame (a giant
#    In-literal is an expression-size risk and the keys may not even be
#    driver-collected in that regime). Same discipline as the graph
#    family's two-regime gates.
# 2. ONE DISTRIBUTED REWRITE JOB: all hit files are read as ONE DataFrame
#    tagged with input_file_name(); survivors + routed updates are written
#    in ONE job to a shadow dir partitioned by file id (repartition by
#    _fid → exactly one part per hit file), then the driver performs the
#    atomic per-file os.replace swaps. A CDC batch hitting thousands of
#    files costs one Spark job, not thousands of driver-dispatched ones.
# --------------------------------------------------------------------------

_ISIN_MAX = 10_000

# internal routing columns used by the one-job rewrite; a store that
# legitimately owns one of these names would be silently clobbered by
# withColumn("_src", input_file_name()) or made ambiguous in the fmap
# join, so the mutation entrypoints refuse loudly instead
_RESERVED_COLS = ("_src", "_path", "_fid")


def _check_reserved(schema) -> None:
    bad = [c for c in schema.names if c in _RESERVED_COLS]
    if bad:
        raise ValueError(
            f"mutation family reserves internal column names "
            f"{_RESERVED_COLS}; store schema already contains {bad} — "
            f"rename the column(s) before using delete/upsert/merge_keys"
        )


def _keys_frame(spark, key_col: str, dtype, keys) -> DataFrame:
    return spark.createDataFrame(
        [(k,) for k in keys], T.StructType([T.StructField(key_col, dtype)])
    ).distinct()


def _hit_semi(df: DataFrame, key_col: str, keys=None, keys_df=None) -> DataFrame:
    """Rows of ``df`` whose key IS a change key (NULL keys never match)."""
    if keys_df is None and len(keys) <= _ISIN_MAX:
        return df.filter(
            F.coalesce(F.col(key_col).isin(list(keys)), F.lit(False))
        )
    if keys_df is None:
        keys_df = _keys_frame(
            df.sparkSession, key_col, df.schema[key_col].dataType, keys
        )
    return df.join(F.broadcast(keys_df), key_col, "left_semi")


def _hit_anti(df: DataFrame, key_col: str, keys=None, keys_df=None) -> DataFrame:
    """Rows of ``df`` whose key is NOT a change key (NULL keys kept)."""
    if keys_df is None and len(keys) <= _ISIN_MAX:
        return df.filter(
            ~F.coalesce(F.col(key_col).isin(list(keys)), F.lit(False))
        )
    if keys_df is None:
        keys_df = _keys_frame(
            df.sparkSession, key_col, df.schema[key_col].dataType, keys
        )
    return df.join(F.broadcast(keys_df), key_col, "left_anti")


def _drop_crc_sidecar(f: str) -> None:
    # Hadoop's LocalFileSystem keeps a .<name>.crc checksum sidecar; after
    # an in-place swap it describes the OLD bytes and every read fails
    # with ChecksumException (local-FS artifact only — object stores have
    # no sidecars)
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _rewrite_in_place(
    spark, path: str, hit_uris: list, new_content: DataFrame,
    src_col: str = "_src",
) -> tuple[int, int]:
    """ONE distributed job replacing every hit file's content in place.

    ``new_content`` carries the store columns plus ``src_col`` (the
    file:// URI of the file each row belongs to, as produced by
    input_file_name()). All replacement content is written in a single
    job to a shadow dir partitioned by file id — repartition by _fid
    guarantees exactly one part file per hit file — then each original
    is atomically swapped (os.replace) or removed when every one of its
    rows was consumed. Returns (files_rewritten, files_removed).
    """
    import shutil

    if not hit_uris:
        return 0, 0
    local = [u.removeprefix("file://") for u in hit_uris]
    fmap = spark.createDataFrame(
        [(u, i) for i, u in enumerate(hit_uris)], "_path string, _fid int"
    )
    shadow = path.rstrip("/") + "__rewrite_shadow"
    # a prior crashed run may have left a stale shadow; mode("overwrite")
    # only guarantees a full clear under static partitionOverwriteMode —
    # with the session set to dynamic, stale _fid=i dirs would survive and
    # get swapped in as current content. Clear unconditionally.
    shutil.rmtree(shadow, ignore_errors=True)
    out = (
        new_content.join(
            F.broadcast(fmap), F.col(src_col) == F.col("_path"), "left"
        )
        # a NULL _fid means a row's source URI failed to route — corrupt
        # the job loudly rather than drop rows silently
        .filter(F.assert_true(F.col("_fid").isNotNull()).isNull())
        .drop(src_col, "_path")
        .repartition(len(hit_uris), "_fid")
    )
    out.write.partitionBy("_fid").mode("overwrite").parquet(shadow)
    # validate the one-part-per-_fid invariant for EVERY fid before the
    # first swap: if it ever breaks (e.g. spark.sql.files.maxRecordsPerFile
    # set session-wide splits a partition into several parts), swapping
    # parts[0] would silently discard the other parts' rows — and raising
    # mid-loop would leave the store half-swapped. All-or-nothing instead.
    part_lists = []
    for i in range(len(local)):
        parts = [
            p
            for p in glob.glob(os.path.join(shadow, f"_fid={i}", "part-*"))
            if os.path.isfile(p)
        ]
        if len(parts) > 1:
            raise RuntimeError(
                f"_rewrite_in_place: _fid={i} yielded {len(parts)} part "
                f"files (expected exactly 1) — one-part-per-file "
                f"invariant broken; aborting before any swap"
            )
        part_lists.append(parts)
    rewritten = removed = 0
    for f, parts in zip(local, part_lists):
        if parts:
            os.replace(parts[0], f)
            rewritten += 1
        else:  # every row of the file was deleted/updated away
            os.remove(f)
            removed += 1
        _drop_crc_sidecar(f)
    shutil.rmtree(shadow)
    return rewritten, removed


def delete_keys(
    spark,
    path: str,
    key_col: str,
    keys: list,
) -> dict:
    """Targeted delete at rest (the right-to-be-forgotten maintenance
    pass): remove every row whose ``key_col`` is in ``keys`` by
    REWRITING ONLY THE FILES THAT CONTAIN THEM — at 100 TB a delete of a
    handful of keys must not rewrite the corpus. Works on any parquet
    layout; on a range-clustered/z-ordered store (write_range_clustered,
    zorder_write) the hit-file scan itself prunes by footer min-max, so
    finding the files costs a metadata pass plus the matching
    row-groups.

    Mechanics: the hit files are read as ONE DataFrame, the survivors
    (NULL-safe — a null key never matches) written in ONE distributed
    job to a shadow dir partitioned by file id, and each ORIGINAL FILE
    REPLACED IN PLACE (os.replace — atomic within a filesystem); a file
    whose every row matched is deleted outright. Untouched files are
    never opened for write, so concurrent readers of other files are
    unaffected. Job count is O(1) in the number of hit files. Key
    targeting is two-regime: an In-literal (parquet row-group pruning)
    below _ISIN_MAX keys, a broadcast anti join above. Single writer
    assumed.

    Returns {"files_scanned", "files_rewritten", "files_removed",
    "rows_deleted"}.
    """
    import glob as g

    from dumpty_spark.sinks import manifest as _m

    if _m.is_versioned(path.rstrip("/")):
        return _m.delete_keys_versioned(spark, path.rstrip("/"), key_col, keys)

    all_files = [
        p
        for p in g.glob(os.path.join(path.rstrip("/"), "**", "part-*"), recursive=True)
        if os.path.isfile(p)
    ]
    store = spark.read.parquet(path)
    _check_reserved(store.schema)
    hits = (
        _hit_semi(store, key_col, keys)
        .groupBy(F.input_file_name().alias("_f"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    rows_deleted = sum(r["_n"] for r in hits)
    hit_uris = [r["_f"] for r in hits]

    rewritten = removed = 0
    if hit_uris:
        src = spark.read.parquet(*hit_uris).withColumn(
            "_src", F.input_file_name()
        )
        survivors = _hit_anti(src, key_col, keys)
        rewritten, removed = _rewrite_in_place(spark, path, hit_uris, survivors)
    return {
        "files_scanned": len(all_files),
        "files_rewritten": rewritten,
        "files_removed": removed,
        "rows_deleted": rows_deleted,
    }


def upsert_keys(
    spark,
    path: str,
    key_col: str,
    updates: DataFrame,
) -> dict:
    """Keyed upsert at rest (the MERGE half of delete_keys): rows in
    ``updates`` replace same-key rows in the store; keys not yet present
    are appended. Only files that contain an updated key are rewritten —
    at 100 TB a CDC trickle must not rewrite the corpus — and the new
    keys land in fresh appended files sized by the normal writer path.

    Below _ISIN_MAX distinct keys the key list is collected driver-side
    for In-literal file targeting (parquet row-group pruning); above it
    the keys stay distributed and targeting is a broadcast semi join.
    The row payload always stays distributed, and every hit file is
    rewritten in ONE distributed job (shadow dir keyed by file id +
    atomic swaps) — O(1) Spark jobs in the number of hit files. Schema
    must match the store's. Single writer assumed. Returns
    {"files_rewritten", "rows_updated", "rows_inserted"}.

    This is also the ``foreachBatch`` body for a streaming CDC sink:
    ``stream.writeStream.foreachBatch(lambda b, _: upsert_keys(spark,
    path, key, b))`` gives at-least-once keyed merge into parquet
    (idempotent per batch — replaying a batch re-applies the same
    values).
    """
    from dumpty_spark.sinks import manifest as _m

    if _m.is_versioned(path.rstrip("/")):
        return _m.upsert_keys_versioned(spark, path.rstrip("/"), key_col, updates)

    updates = updates.localCheckpoint()  # evaluated 3×; plan may be streaming
    # regime gate in ONE action (r11 optimization, guide §2.4): a
    # limit-probe collect replaces the count-then-collect pair; overflow
    # past _ISIN_MAX rows means the large regime, where keys stay a
    # DataFrame and are never collected.
    kdist = updates.select(key_col).distinct()
    probe_rows = kdist.limit(_ISIN_MAX + 1).collect()
    if len(probe_rows) <= _ISIN_MAX:
        keys, keys_df = [r[0] for r in probe_rows], None
    else:
        keys, keys_df = None, kdist

    store = spark.read.parquet(path)
    _check_reserved(store.schema)
    hits = (
        _hit_semi(store, key_col, keys, keys_df)
        .groupBy(F.input_file_name().alias("_f"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    hit_uris = [r["_f"] for r in hits]
    rows_updated = sum(r["_n"] for r in hits)

    # conform to the store schema — order AND types (an INT-typed literal
    # column appended next to INT64 files breaks later mixed reads)
    upd = updates.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in store.schema.fields]
    )

    rewritten = 0
    if hit_uris:
        src = spark.read.parquet(*hit_uris).withColumn(
            "_src", F.input_file_name()
        )
        # (file, key) presence pairs route each update row to every file
        # that previously held its key; bounded by the change-key count,
        # so broadcastable
        filekeys = (
            _hit_semi(src, key_col, keys, keys_df)
            .select("_src", key_col)
            .distinct()
            .localCheckpoint()
        )
        survivors = _hit_anti(src, key_col, keys, keys_df)
        routed = upd.join(F.broadcast(filekeys), key_col)
        rewritten, removed = _rewrite_in_place(
            spark, path, hit_uris, survivors.unionByName(routed)
        )
        rewritten += removed
        matched = filekeys.select(key_col).distinct()
    else:
        matched = None

    # NULL-safe (same as the versioned path): a null-keyed update row can
    # never match by key, so it is an insert — a bare anti join keeps it
    inserts = (
        upd.join(F.broadcast(matched), key_col, "left_anti")
        if matched is not None
        else upd
    )
    n_inserts = inserts.count()
    if n_inserts:
        # a CDC trickle is small — land it as ONE appended file per call
        # and let compact_parquet absorb the accumulation later
        inserts.coalesce(1).write.mode("append").parquet(path)
    return {
        "files_rewritten": rewritten,
        "rows_updated": rows_updated,
        "rows_inserted": n_inserts,
    }


def merge_keys(
    spark,
    path: str,
    key_col: str,
    changes: DataFrame,
    op_col: str = "op",
) -> dict:
    """Full MERGE at rest in ONE file-targeting pass (the Delta/Iceberg
    ``MERGE INTO`` shape): ``changes`` carries ``op_col`` ∈ {'U', 'D'}
    plus the store's payload columns — WHEN MATCHED AND op='D' THEN
    DELETE, WHEN MATCHED AND op='U' THEN UPDATE, WHEN NOT MATCHED AND
    op='U' THEN INSERT. Unlike delete_keys-then-upsert_keys, a file hit
    by both a delete and an update is rewritten ONCE: every hit file's
    survivors (rows whose key appears in NO change) are merged with
    that file's share of the updates and the file is replaced in place;
    never-matched update keys land as one appended sized file. At
    100 TB a CDC batch must cost O(hit files), and each hit file must
    cost ONE rewrite regardless of the op mix.

    Same contracts as upsert_keys: two-regime key targeting
    (In-literal below _ISIN_MAX distinct keys, broadcast join above —
    the change keys are never collected as a Python In-literal in the
    large regime — the broadcast still bounds it by driver memory),
    store-conformed schema, idempotent per batch, single writer, ONE
    distributed rewrite job — O(1) Spark jobs in the number of hit
    files. Returns {"files_rewritten", "rows_deleted", "rows_updated",
    "rows_inserted"}.
    """
    changes = changes.localCheckpoint()

    # ambiguity gates, distributed (Delta/Iceberg MERGE errors when
    # several source rows match one target row — op precedence would be
    # a silent guess; refuse)
    chk = (
        changes.groupBy(key_col)
        .agg(
            F.count_distinct(F.col(op_col)).alias("_nops"),
            F.sum((F.col(op_col) == "U").cast("int")).alias("_nu"),
            # NULL op is also unknown — coalesce, don't let sum skip it
            F.sum(
                F.coalesce(
                    ~F.col(op_col).isin("U", "D"), F.lit(True)
                ).cast("int")
            ).alias("_nbad"),
        )
        .filter(
            (F.col("_nops") > 1) | (F.col("_nu") > 1) | (F.col("_nbad") > 0)
        )
        .limit(5)
        .collect()
    )
    # unknown ops first: the key census below targets ALL change keys, so
    # a row with op outside {'U','D'} would anti-join its store rows out
    # with no routed replacement — silent deletion at rest. Refuse.
    bad = sorted(r[key_col] for r in chk if r["_nbad"] > 0)
    if bad:
        raise ValueError(
            f"merge_keys: rows with op outside {{'U','D'}} for keys "
            f"{bad[:5]} — unknown ops would silently delete at rest; "
            f"filter or map them before the MERGE"
        )
    both = sorted(r[key_col] for r in chk if r["_nops"] > 1)
    if both:
        raise ValueError(
            f"merge_keys: keys appear with BOTH ops (ambiguous MERGE): "
            f"{both[:5]}"
        )
    if any(r["_nu"] > 1 for r in chk):
        raise ValueError(
            "merge_keys: duplicate update rows for one key (ambiguous MERGE)"
        )

    # regime gate in ONE action (r11 optimization, guide §2.4 — the old
    # shape ran count + two collects over the same checkpointed frame):
    # the ambiguity gates above guarantee one op per key, so the distinct
    # (key, op) frame is exactly key-sized — collect it with a
    # limit-probe; overflow past _ISIN_MAX rows means the large regime,
    # where keys stay DataFrames and are never collected.
    kop = changes.select(key_col, op_col).distinct()
    probe_rows = kop.limit(_ISIN_MAX + 1).collect()
    if len(probe_rows) <= _ISIN_MAX:
        all_keys = [r[0] for r in probe_rows]
        upd_keys = [r[0] for r in probe_rows if r[1] == "U"]
        all_keys_df = upd_keys_df = None
    else:
        all_keys = upd_keys = None
        all_keys_df = changes.select(key_col).distinct()
        upd_keys_df = (
            changes.filter(F.col(op_col) == "U").select(key_col).distinct()
        )

    store = spark.read.parquet(path)
    _check_reserved(store.schema)
    # per-file hit census with op attribution: the (key, op) frame is
    # change-sized, so broadcastable; input_file_name() is grouped
    # map-side in the same stage as the scan
    opk = changes.select(
        F.col(key_col).alias("_ck"), F.col(op_col).alias("_cop")
    ).distinct()
    hits = (
        _hit_semi(store, key_col, all_keys, all_keys_df)
        .join(F.broadcast(opk), F.col(key_col) == F.col("_ck"))
        .groupBy(F.input_file_name().alias("_f"))
        .agg(
            F.sum((F.col("_cop") == "D").cast("int")).alias("_d"),
            F.sum((F.col("_cop") == "U").cast("int")).alias("_u"),
        )
        .collect()
    )
    hit_uris = [r["_f"] for r in hits]
    rows_deleted = sum(r["_d"] for r in hits)
    rows_updated = sum(r["_u"] for r in hits)

    upd = changes.filter(F.col(op_col) == "U").select(
        *[F.col(f.name).cast(f.dataType).alias(f.name)
          for f in store.schema.fields]
    )

    rewritten = 0
    if hit_uris:
        src = spark.read.parquet(*hit_uris).withColumn(
            "_src", F.input_file_name()
        )
        filekeys = (
            _hit_semi(src, key_col, upd_keys, upd_keys_df)
            .select("_src", key_col)
            .distinct()
            .localCheckpoint()
        )
        survivors = _hit_anti(src, key_col, all_keys, all_keys_df)
        routed = upd.join(F.broadcast(filekeys), key_col)
        a, b = _rewrite_in_place(
            spark, path, hit_uris, survivors.unionByName(routed)
        )
        rewritten = a + b
        matched = filekeys.select(key_col).distinct()
        inserts = upd.join(F.broadcast(matched), key_col, "left_anti")
    else:
        inserts = upd
    n_inserts = inserts.count()
    if n_inserts:
        inserts.coalesce(1).write.mode("append").parquet(path)
    return {
        "files_rewritten": rewritten,
        "rows_deleted": rows_deleted,
        "rows_updated": rows_updated,
        "rows_inserted": n_inserts,
    }
