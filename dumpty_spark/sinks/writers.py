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

Every sink write here, and every file the versioned store stages
(sinks/manifest.py), gets its file count from one helper, ``_sized``: an
input that already reads as that many partitions is written as it comes,
and any other goes through one exchange that routes each row by a hash
of its content. That exchange needs no sort and gives at most the asked
number of files.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
from math import ceil
from urllib.parse import unquote, urlsplit

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dumpty_spark.plans.types import spark_schema_to_bq
from dumpty_spark.sinks import manifest

TIMESTAMP_FORMAT = "yyyy-MM-dd HH:mm:ss"  # reference config.py:20
TARGET_PARTITION_BYTES = 50 * 1024 * 1024  # reference config.py:53


def _sized(df: DataFrame, partitions: int | None) -> DataFrame:
    """Shape ``df`` into ``partitions`` output files (None: as it comes).
    An input that already reads as that many partitions is written as it
    comes: each of its tasks scans, encodes and writes one file. Any
    other input goes through one exchange, so its scan and its encode
    both run in parallel (``coalesce`` would pull a multi-partition scan
    into fewer tasks).

    Into more than one file the exchange hashes every column Spark can
    hash (``_hash_keys``): a row's file depends only on its content, so a
    retried map task re-sends each row to the same file in any input
    order. A round-robin ``repartition(n)`` gets that only by sorting
    every row of every map task first
    (``spark.sql.execution.sortBeforeRepartition``). The trade-off: a
    sink has at most ``partitions`` files, since a bucket no row hashes
    to writes no file (Spark still writes the first), and exact-duplicate
    rows always share a file. One file keeps ``repartition(1)``, which
    Spark does not sort, and a frame with no hashable column keeps
    ``repartition(n)``, sort included."""
    if not partitions or _partition_count(df) == partitions:
        return df
    return df.repartition(partitions, *(_hash_keys(df) if partitions > 1 else ()))


def _hashable(t: T.DataType) -> bool:
    """Whether Spark can hash a value of type ``t``: no map and no
    variant at any depth."""
    if isinstance(t, (T.MapType, T.VariantType)):
        return False
    if isinstance(t, T.ArrayType):
        return _hashable(t.elementType)
    if isinstance(t, T.StructType):
        return all(_hashable(f.dataType) for f in t.fields)
    if isinstance(t, T.UserDefinedType):
        return _hashable(t.sqlType())
    return True


def _hash_keys(df: DataFrame) -> list:
    """Every top-level column of ``df`` Spark can hash, quoted so a name
    with a dot or a backtick resolves as itself."""
    return [
        F.col("`" + f.name.replace("`", "``") + "`")
        for f in df.schema.fields
        if _hashable(f.dataType)
    ]


# operators whose output partitions are their one child's, one to one
# (nodeName up to its first space: "WholeStageCodegen (1)")
_SAME_PARTITIONS = frozenset(
    ("WholeStageCodegen", "InputAdapter", "ColumnarToRow", "Project", "Filter", "CollectMetrics")
)


def _partition_count(df: DataFrame) -> int | None:
    """How many partitions ``df``'s physical plan yields, answered by
    planning alone: from the scan (``_scan_partitions``) when it can,
    else by executing the plan on the driver, which starts no job but
    generates its code. A plan AQE wraps holds an exchange or a
    subquery, and asking its partition count would run them, so it
    gives None."""
    plan = df._jdf.queryExecution().executedPlan()
    n = _scan_partitions(plan)
    if n is not None:
        return n
    if plan.nodeName() == "AdaptiveSparkPlan" or not plan.subqueriesAll().isEmpty():
        return None
    return plan.execute().getNumPartitions()


def _scan_partitions(plan) -> int | None:
    """The partition count of a physical plan that is a chain of
    operators keeping their child's partitions over one scan, read off
    the scan's input RDD with no code generated; None for any other
    plan."""
    node, name = plan, plan.nodeName()
    while name.split(" ", 1)[0] in _SAME_PARTITIONS:
        node = node.child()
        name = node.nodeName()
    if not name.startswith("Scan "):
        return None
    try:
        return node.inputRDDs().head().getNumPartitions()
    except Py4JError:  # a scan with no input RDD
        return None


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

    if manifest.is_versioned(path.rstrip("/")):
        # versioned store → snapshot-isolated commit path (sinks/manifest.py)
        out = manifest.compact_versioned(spark, path.rstrip("/"), target_bytes)
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
        _sized(df, n_files).write.mode("overwrite").parquet(tmp)
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
# At-rest keyed mutation. delete_keys, upsert_keys and merge_keys each
# state their change set and run the ONE path below (_probe + _mutate),
# on a plain parquet directory and a versioned store alike:
#
# 1. PROBE: one limit-probe collect picks the key regime. Below _ISIN_MAX
#    keys the change keys are an ``isin`` literal (it reaches the parquet
#    scan as an In filter — row-group min/max and dictionary pruning find
#    the hit files with a metadata pass); above it they stay a distinct-
#    keys frame for broadcast semi/anti joins (a giant In-literal is an
#    expression-size risk; the broadcast still passes the keys through
#    the driver, so that regime is bounded by broadcast size). Same
#    discipline as the graph family's two-regime gates.
# 2. CENSUS: one job over the current snapshot counts, per hit file, the
#    rows deleted and the rows updated.
# 3. REWRITE: each hit file's survivors (rows whose key is in no change;
#    a NULL key never matches) plus the update rows, each routed to one
#    file that held its key (the first by URI), so a key several files
#    held is written once. An update row whose key no hit file held — a
#    NULL key included — is an insert.
# 4. PUBLISH, the only fork. A plain store writes every hit file's new
#    content in ONE distributed job and swaps each file in place
#    (_rewrite_in_place), then appends one insert file. A versioned store
#    (sinks/manifest.py) stages new files and commits one manifest, with
#    the commit lock held from the census to the publish: the keep list
#    is only valid against the snapshot it was computed from, so a
#    second writer fails with ConcurrentWriteError instead.
#
# A batch hitting thousands of files costs O(1) Spark jobs, not one per
# file, and a file hit by both a delete and an update is rewritten once.
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


def _key_filter(df: DataFrame, key_col: str, keys, how: str) -> DataFrame:
    """Rows of ``df`` whose key is (``how="left_semi"``) or is not
    (``"left_anti"``) in ``keys``, a list or a key frame. A NULL key
    never matches, so the anti side keeps NULL-keyed rows."""
    if isinstance(keys, list) and len(keys) <= _ISIN_MAX:
        hit = F.coalesce(F.col(key_col).isin(keys), F.lit(False))
        return df.filter(hit if how == "left_semi" else ~hit)
    if isinstance(keys, list):
        dtype = df.schema[key_col].dataType
        keys = df.sparkSession.createDataFrame(
            [(k,) for k in keys], T.StructType([T.StructField(key_col, dtype)])
        ).distinct()
    return df.join(F.broadcast(keys), key_col, how)


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
    input_file_name(), which ``hit_uris`` lists). All replacement
    content is written in a single job to a shadow dir partitioned by
    file id — repartition by _fid guarantees exactly one part file per
    hit file — then each original is atomically swapped (os.replace) or
    removed when every one of its rows was consumed. Returns (files_rewritten, files_removed).
    """
    import shutil

    if not hit_uris:
        return 0, 0
    local = [_uri_path(u) for u in hit_uris]
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


def _uri_path(uri: str) -> str:
    """The local path of a file URI as input_file_name() gives it:
    percent-encoded (a space is ``%20``), so decoded once here, by the
    rules of java.net.URI.getPath."""
    return unquote(urlsplit(uri).path)


def _probe(changes: DataFrame, key_col: str, op_col: str | None = None):
    """Step 1 in ONE action: (all change keys, keys to update), each a
    list below _ISIN_MAX keys or a distinct-keys frame above it. Without
    ``op_col`` every change is an update and both are the same object.
    With one op per key the (key, op) frame is key-sized, so overflow
    past _ISIN_MAX rows means the large regime."""
    cols = [key_col, op_col] if op_col else [key_col]
    rows = changes.select(*cols).distinct().limit(_ISIN_MAX + 1).collect()
    if len(rows) <= _ISIN_MAX:
        keys = [r[0] for r in rows]
        return keys, ([r[0] for r in rows if r[1] == "U"] if op_col else keys)
    keys = changes.select(key_col).distinct()
    if not op_col:
        return keys, keys
    return keys, changes.filter(F.col(op_col) == "U").select(key_col).distinct()


def _mutate(spark, path: str, key_col: str, keys, upd_keys, upd, tag: str) -> dict:
    """Steps 2-4 for one change set. ``keys`` are all change keys and
    ``upd_keys`` the keys to update (see _probe); ``upd`` holds the
    update rows, and is None — like ``upd_keys`` — for a delete. ``tag``
    names a versioned store's staged files. Returns the path's counters;
    a versioned store adds ``version`` and, when it commits, ``files``.
    A versioned store commits only a change: a batch that hits no file
    and inserts no row returns the current version."""
    root = path.rstrip("/")
    versioned = manifest.is_versioned(root)
    with manifest._commit_lock(root) if versioned else contextlib.nullcontext():
        if versioned:
            snap = manifest.read_manifest(root)
            store, scanned = manifest.read_store(spark, root), len(snap["files"])
        else:
            store = spark.read.parquet(path)
            scanned = len(store.inputFiles())  # the scan's own listing
        _check_reserved(store.schema)

        # step 2: per hit file, rows hit and rows updated; input_file_name()
        # is grouped map-side in the scan's stage
        hit = _key_filter(store, key_col, keys, "left_semi")
        if upd_keys is None:
            u = F.lit(0)
        elif upd_keys is keys:
            u = F.lit(1)
        elif isinstance(upd_keys, list):
            u = F.coalesce(F.col(key_col).isin(upd_keys), F.lit(False)).cast("int")
        else:
            marks = upd_keys.withColumn("_u", F.lit(1))
            hit = hit.join(F.broadcast(marks), key_col, "left")
            u = F.coalesce(F.col("_u"), F.lit(0))
        census = (
            hit.groupBy(F.input_file_name().alias("_f"))
            .agg(F.count(F.lit(1)).alias("_n"), F.sum(u).alias("_u"))
            .collect()
        )
        hit_uris = [r["_f"] for r in census]
        hit_paths = [_uri_path(u) for u in hit_uris]
        n_upd = sum(r["_u"] for r in census)
        c = {
            "files_scanned": scanned,
            "files_hit": len(hit_uris),
            "files_rewritten": 0,
            "files_removed": 0,
            "rows_deleted": sum(r["_n"] for r in census) - n_upd,
            "rows_updated": n_upd,
            "rows_inserted": 0,
        }
        # step 3. Update rows conform to the store schema — order AND
        # types: an INT literal column next to INT64 files breaks every
        # later mixed read
        if upd is not None:
            upd = upd.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name)
                  for f in store.schema.fields]
            )
        content = filekeys = None
        inserts = upd
        if hit_uris:
            src = spark.read.parquet(*hit_paths).withColumn("_src", F.input_file_name())
            content = _key_filter(src, key_col, keys, "left_anti")
            if n_upd:
                # each updated key and ONE file that held it, so a key
                # held by several files is written once: key-sized, so
                # broadcastable
                filekeys = (
                    _key_filter(src, key_col, upd_keys, "left_semi")
                    .groupBy(key_col)
                    .agg(F.min("_src").alias("_src"))
                    .localCheckpoint()
                )
                matched = F.broadcast(filekeys.select(key_col))
                inserts = upd.join(matched, key_col, "left_anti")
        if inserts is not None:
            c["rows_inserted"] = inserts.count()
        if versioned and not hit_uris and not c["rows_inserted"]:
            return {**c, "version": snap["version"]}  # nothing to commit

        # step 4
        if not versioned:
            if hit_uris:
                if filekeys is not None:  # to the one file chosen per key
                    routed = upd.join(F.broadcast(filekeys), key_col)
                    content = content.unionByName(routed)
                c["files_rewritten"], c["files_removed"] = _rewrite_in_place(
                    spark, path, hit_uris, content
                )
            if c["rows_inserted"]:
                # one appended file per call; compact_parquet absorbs the
                # accumulation later
                inserts.coalesce(1).write.mode("append").parquet(path)
            return c
        version, staged = snap["version"] + 1, []
        if hit_uris:
            content = content.drop("_src")
            if filekeys is not None:
                content = content.unionByName(upd.join(matched, key_col, "left_semi"))
            if filekeys is not None or not content.isEmpty():
                staged = manifest._stage_dataframe(
                    content, root, version, tag, len(hit_uris)
                )
            # superseded files are removed from the snapshot, never from disk
            c["files_rewritten"] = len(hit_uris)
            c["files_removed"] = 0 if staged else len(hit_uris)
        if c["rows_inserted"]:
            staged += manifest._stage_dataframe(inserts, root, version, "ins", 1)
        hit_names = {os.path.basename(f) for f in hit_paths}
        keep = [f for f in snap["files"] if f not in hit_names]
        c.update(
            manifest.commit_mutation(
                root, keep, staged, snap.get("schema_sample"), _locked=True
            )
        )
        return c


def _none_last(k):
    """Sort key for refused keys: a NULL key sorts after every other."""
    return (k is None, 0 if k is None else k)


def _report(c: dict, *names: str) -> dict:
    """``names`` from _mutate's counters, plus a versioned store's
    ``version`` and ``files``."""
    return {n: c[n] for n in (*names, "version", "files") if n in c}


def delete_keys(
    spark,
    path: str,
    key_col: str,
    keys: list,
) -> dict:
    """Targeted delete at rest (the right-to-be-forgotten maintenance
    pass): remove every row whose ``key_col`` is in ``keys`` by
    REWRITING ONLY THE FILES THAT CONTAIN THEM — at 100 TB a delete of a
    handful of keys must not rewrite the corpus. On a range-clustered /
    z-ordered store (write_range_clustered, zorder_write) the census
    prunes by footer min-max, so finding the files costs a metadata pass
    plus the matching row-groups. A NULL key never matches. Plain stores
    may be hive-partitioned.

    Returns {"files_scanned", "files_rewritten", "files_removed",
    "rows_deleted"}. A plain store counts a file left with no survivor
    as removed, not rewritten. A versioned store counts every hit file
    as rewritten, as removed only when no survivor was staged, and adds
    "version" and "files" ("files" only when a key hit: a delete that
    hits nothing commits nothing).
    """
    c = _mutate(spark, path, key_col, list(keys), None, None, "del")
    return _report(
        c, "files_scanned", "files_rewritten", "files_removed", "rows_deleted"
    )


def upsert_keys(
    spark,
    path: str,
    key_col: str,
    updates: DataFrame,
) -> dict:
    """Keyed upsert at rest: rows in ``updates`` replace same-key rows in
    the store; keys not yet present (and NULL keys) are inserted. Only
    files that hold an updated key are rewritten, and the inserts land
    as one new file. Update rows are cast to the store schema; several
    rows for one key are all kept, and a key held by several files is
    written once. Returns {"files_rewritten", "rows_updated",
    "rows_inserted"}, plus "version" and "files" on a versioned store
    ("files" only when it commits: a batch that changes nothing commits
    nothing and returns the current version).

    This is also the ``foreachBatch`` body for a streaming CDC sink:
    ``stream.writeStream.foreachBatch(lambda b, _: upsert_keys(spark,
    path, key, b))`` gives at-least-once keyed merge into parquet
    (idempotent per batch — replaying a batch re-applies the same
    values).
    """
    updates = updates.localCheckpoint()  # read several times; plan may be streaming
    keys, _ = _probe(updates, key_col)
    c = _mutate(spark, path, key_col, keys, keys, updates, "ups")
    return {
        "files_rewritten": c["files_hit"],
        **_report(c, "rows_updated", "rows_inserted"),
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
    by both a delete and an update is rewritten ONCE. Same contracts as
    upsert_keys, on plain and versioned stores alike. Returns
    {"files_rewritten", "rows_deleted", "rows_updated",
    "rows_inserted"}, plus "version" and "files" on a versioned store.
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

    # unknown ops first: the census targets ALL change keys, so a row
    # with op outside {'U','D'} would anti-join its store rows out with
    # no routed replacement — silent deletion at rest. Refuse.
    bad = sorted((r[key_col] for r in chk if r["_nbad"] > 0), key=_none_last)
    if bad:
        raise ValueError(
            f"merge_keys: rows with op outside {{'U','D'}} for keys "
            f"{bad[:5]} — unknown ops would silently delete at rest; "
            f"filter or map them before the MERGE"
        )
    both = sorted((r[key_col] for r in chk if r["_nops"] > 1), key=_none_last)
    if both:
        raise ValueError(
            f"merge_keys: keys appear with BOTH ops (ambiguous MERGE): "
            f"{both[:5]}"
        )
    if any(r["_nu"] > 1 for r in chk):
        raise ValueError(
            "merge_keys: duplicate update rows for one key (ambiguous MERGE)"
        )

    keys, upd_keys = _probe(changes, key_col, op_col)
    upd = changes.filter(F.col(op_col) == "U")
    c = _mutate(spark, path, key_col, keys, upd_keys, upd, "mrg")
    return {
        "files_rewritten": c["files_hit"],
        **_report(c, "rows_deleted", "rows_updated", "rows_inserted"),
    }
