"""Round-6 engine extensions, first batch (EXT E129-E131): the at-rest
store contracts promoted from tests-only to driver-oracle-proven queries
(VERDICT r5 task 5). Pattern = E125 (q_manifest_time_travel): run the
real store operator against a deterministic mutation of a base table,
then hash a surface the DuckDB oracle can recompute from the RAW table —
so a hash match proves the store returned exactly the committed data.

Each query deliberately performs store WRITES and a few driver-side
actions (file counts, key lists): they are store-contract checks, not
templates for analytic queries (same caveat as E125).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dumpty_spark.queries import register
from dumpty_spark.session import warehouse_scratch
from dumpty_spark.sources.parquet import load_table

__all__ = ["warehouse_scratch"]  # canonical home is session.py (r7)


# ---------------------------------------------------------------------------
# E129: z-order data skipping as an oracle-checked query (E15 promoted)
# ---------------------------------------------------------------------------
# zorder_write's whole point is multi-column file skipping: after
# clustering lineitem on (l_partkey, l_suppkey), a selective range
# predicate on EITHER column should concentrate its matching rows in a
# small subset of the files — a single-column sort can only do that for
# its leading column. The hashed surface: exact aggregates of each probe
# slice (proves the clustered round-trip lost/changed nothing) plus a
# pruning boolean per probe (strictly fewer files contain hits than
# exist — with a random layout every file would contain hits at these
# selectivities, asserted in reverse by the 'all' row where every file
# must be non-empty).

_ZORDER_ORACLE = """
WITH src AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem WHERE l_orderkey % 4 = 0
),
th AS (
  SELECT MAX(l_partkey) // 16 AS pk_cut, MAX(l_suppkey) // 16 AS sk_cut
  FROM src
)
SELECT 'all' AS probe, COUNT(*)::BIGINT AS n_rows,
       ROUND(SUM(l_quantity), 2) AS sum_qty, TRUE AS files_pruned
FROM src
UNION ALL
SELECT 'pk_range', COUNT(*)::BIGINT, ROUND(SUM(l_quantity), 2), TRUE
FROM src, th WHERE l_partkey <= th.pk_cut
UNION ALL
SELECT 'sk_range', COUNT(*)::BIGINT, ROUND(SUM(l_quantity), 2), TRUE
FROM src, th WHERE l_suppkey <= th.sk_cut
ORDER BY probe
"""


@register(
    "q_zorder_skipping",
    oracle=_ZORDER_ORACLE,
    doc="z-order data skipping audit (E129, E15 promoted from tests-only): "
    "lineitem Morton-clustered at rest on (l_partkey, l_suppkey), then a "
    "1/16 range probe on EACH clustered column — exact slice aggregates "
    "prove the clustered round-trip preserved the data, and the pruning "
    "booleans prove matching rows concentrate in a strict subset of "
    "files on BOTH dimensions (the multi-column-skipping property a "
    "single-column sort cannot provide); the 'all' row proves no rows "
    "were lost and every written file is non-empty",
)
def q_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dumpty_spark.operators.zorder import zorder_write

    # deterministic quarter-slice: the audit measures the I/O SHAPE
    # (clustered write + per-dimension pruning); volume scaling is the
    # x10 sweep's job, and a full-lineitem write made this the suite's
    # most expensive query by 5x for no extra evidence
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 4 == 0)
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    cuts = li.agg(
        (F.max("l_partkey") / 16).cast("long").alias("pk_cut"),
        (F.max("l_suppkey") / 16).cast("long").alias("sk_cut"),
    ).first()
    scratch = warehouse_scratch(spark, "zo")
    store = f"{scratch}/store"
    try:
        zorder_write(li, store, ["l_partkey", "l_suppkey"], num_files=16)
        n_files = len(
            [p for p in glob.glob(os.path.join(store, "part-*")) if os.path.isfile(p)]
        )
        at_rest = spark.read.parquet(store)

        def probe(name: str, pred, expect_all_files: bool) -> DataFrame:
            sliced = at_rest.filter(pred) if pred is not None else at_rest
            hit_files = (
                sliced.select(F.input_file_name().alias("_f")).distinct().count()
            )
            pruned = (
                hit_files == n_files if expect_all_files else hit_files < n_files
            )
            return sliced.agg(
                F.lit(name).alias("probe"),
                F.count("*").alias("n_rows"),
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.lit(bool(pruned)).alias("files_pruned"),
            )

        # the three probes are independent readouts of the written store
        # (each: one distinct-file count + a lazy agg) — overlap their
        # counts on driver threads (the q_ann_recall_check discipline);
        # per-probe computation and results are unchanged. run_overlapped
        # propagates job-group/local properties into the pool threads
        # (ADVICE r11 #4).
        from dumpty_spark.operators.util import run_overlapped

        specs = [
            ("all", None, True),
            ("pk_range", F.col("l_partkey") <= cuts["pk_cut"], False),
            ("sk_range", F.col("l_suppkey") <= cuts["sk_cut"], False),
        ]
        frames = run_overlapped(
            spark,
            [
                (lambda s=s: probe(s[0], s[1], expect_all_files=s[2]))
                for s in specs
            ],
        )
        out = (
            frames[0]
            .unionAll(frames[1])
            .unionAll(frames[2])
            .orderBy("probe")
            .localCheckpoint()
        )
        return out
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# ---------------------------------------------------------------------------
# E130: incremental exact-dedup store as an oracle-checked query
# (E14 promoted)
# ---------------------------------------------------------------------------
# Three batches of documents (doc_id % 3, processed 0 -> 1 -> 2) flow
# through incremental_dedup against one fingerprint store at rest. The
# oracle recomputes survival from scratch in SQL — a doc survives its
# batch iff (a) no SAME-fingerprint doc exists in any EARLIER batch and
# (b) it has the smallest doc_id among its fingerprint's docs within its
# own batch (null-safe on the fingerprint, matching the operator's
# eqNullSafe anti-join). The XOR fingerprint of surviving ids certifies
# the exact survivor SET per batch, not just its size.

_INC_DEDUP_ORACLE = """
WITH fps AS (
  SELECT doc_id, doc_id % 3 AS batch,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM documents
),
surv AS (
  SELECT f.batch, f.doc_id
  FROM fps f
  WHERE f.doc_id = (SELECT MIN(g.doc_id) FROM fps g
                    WHERE g.batch = f.batch AND g.fp IS NOT DISTINCT FROM f.fp)
    AND NOT EXISTS (SELECT 1 FROM fps e
                    WHERE e.batch < f.batch AND e.fp IS NOT DISTINCT FROM f.fp)
)
SELECT s.batch::BIGINT AS batch,
       (SELECT COUNT(*) FROM fps WHERE fps.batch = s.batch)::BIGINT AS n_in,
       COUNT(*)::BIGINT AS n_survivors,
       bit_xor(('0x' || substr(md5(s.doc_id::VARCHAR), 1, 15))::BIGINT)
         AS survivor_set_hash,
       MIN(s.doc_id)::BIGINT AS min_id,
       MAX(s.doc_id)::BIGINT AS max_id
FROM surv s
GROUP BY s.batch
ORDER BY s.batch
"""


@register(
    "q_incremental_dedup_store",
    oracle=_INC_DEDUP_ORACLE,
    doc="incremental exact-dedup store audit (E130, E14 promoted from "
    "tests-only): three document batches sequenced through one "
    "fingerprint store at rest — per batch, the XOR hash of the exact "
    "survivor id set (plus counts and id bounds) must equal the oracle's "
    "from-scratch recomputation, proving cross-run suppression, in-batch "
    "keep-first and the null-safe history anti-join all return exactly "
    "the committed state",
)
def q_incremental_dedup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dumpty_spark.operators.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scratch = warehouse_scratch(spark, "incdd")
    store = f"{scratch}/store"
    try:
        outs = []
        for b in (0, 1, 2):
            batch = docs.filter(F.col("doc_id") % 3 == b)
            surv = incremental_dedup(spark, batch, store)
            h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
                "bigint"
            )
            outs.append(
                surv.select(F.col("doc_id"), h.alias("h")).agg(
                    F.lit(b).cast("long").alias("batch"),
                    F.count("*").alias("n_survivors"),
                    F.expr("bit_xor(h)").alias("survivor_set_hash"),
                    F.min("doc_id").alias("min_id"),
                    F.max("doc_id").alias("max_id"),
                )
            )
        per_batch = outs[0].unionAll(outs[1]).unionAll(outs[2])
        n_in = (
            docs.groupBy((F.col("doc_id") % 3).alias("batch"))
            .agg(F.count("*").alias("n_in"))
        )
        return (
            per_batch.join(F.broadcast(n_in), "batch")
            .select(
                "batch", "n_in", "n_survivors", "survivor_set_hash",
                "min_id", "max_id",
            )
            .orderBy("batch")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# ---------------------------------------------------------------------------
# E131: delete + upsert at rest as an oracle-checked query
# (E17'/E17'' promoted)
# ---------------------------------------------------------------------------
# The right-to-be-forgotten delete and the CDC merge are the two most
# production-critical mutations a store supports; this registers their
# combined effect as a hashed query. A range-clustered orders store
# suffers the E125 mutation constants: DELETE keys %97 (the targeted
# rewrite — only hit files are opened), then UPSERT a batch repricing
# keys %101 (including the two deleted-then-re-added overlap keys) and
# cloning keys %89 to fresh ids (pure inserts). The hashed surface is
# the operators' own counters plus the POST-MUTATION table fingerprint
# (q_dataset_fingerprint's XOR row-hash) — the oracle rebuilds the final
# table from raw orders, so a match proves byte-exact merge semantics.

_DELETE_UPSERT_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         ROUND(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 4 = 0
),
upd AS (
  SELECT k, status, ROUND(price * 1.1, 2) AS price FROM base WHERE k % 101 = 0
  UNION ALL
  SELECT k + 10000000, status, price FROM base WHERE k % 89 = 0
),
final AS (
  SELECT * FROM base WHERE k % 97 != 0 AND k % 101 != 0
  UNION ALL
  SELECT * FROM upd
),
fp AS (
  SELECT ('0x' || substr(md5(k::VARCHAR || '|' || status || '|' ||
                             price::VARCHAR), 1, 15))::BIGINT AS h,
         price
  FROM final
)
SELECT (SELECT COUNT(*) FROM base WHERE k % 97 = 0)::BIGINT AS rows_deleted,
       (SELECT COUNT(*) FROM base
         WHERE k % 101 = 0 AND k % 97 != 0)::BIGINT AS rows_updated,
       ((SELECT COUNT(*) FROM base WHERE k % 101 = 0 AND k % 97 = 0)
        + (SELECT COUNT(*) FROM base WHERE k % 89 = 0))::BIGINT AS rows_inserted,
       COUNT(*)::BIGINT AS n_rows,
       bit_xor(h) AS fingerprint,
       ROUND(SUM(price), 2) AS total_price
FROM fp
"""


@register(
    "q_delete_upsert_audit",
    oracle=_DELETE_UPSERT_ORACLE,
    doc="delete + upsert at rest (E131, E17'/E17'' promoted from "
    "tests-only): targeted key delete then keyed CDC merge on a "
    "range-clustered orders store — the operators' own counters plus "
    "the post-mutation XOR table fingerprint must match the oracle's "
    "from-raw rebuild, proving hit-file-only rewrites, deleted-key "
    "re-adds and appended inserts compose to byte-exact MERGE semantics "
    "(the right-to-be-forgotten contract, driver-oracle-proven)",
)
def q_delete_upsert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dumpty_spark.sinks.writers import delete_keys, upsert_keys, write_range_clustered

    # deterministic quarter-slice — same rationale as q_zorder_skipping:
    # the contract is hit-file-only rewrites + MERGE semantics, measured
    # at the shape level; the scattered %97/%101 keys still touch every
    # store file, which is the honest worst case for the operator
    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.round("o_totalprice", 2).alias("price"),
        )
    )
    scratch = warehouse_scratch(spark, "delup")
    store = f"{scratch}/store"
    try:
        write_range_clustered(base, store, ["k"], num_files=8)
        # the deletion-request list is a driver-sized legal artifact
        del_keys = [r["k"] for r in base.filter(F.col("k") % 97 == 0).collect()]
        d = delete_keys(spark, store, "k", del_keys)
        updates = base.filter(F.col("k") % 101 == 0).withColumn(
            "price", F.round(F.col("price") * 1.1, 2)
        ).unionByName(
            base.filter(F.col("k") % 89 == 0).withColumn(
                "k", F.col("k") + F.lit(10000000)
            )
        )
        u = upsert_keys(spark, store, "k", updates)
        final = spark.read.parquet(store)
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("k").cast("string"),
                        F.col("status"),
                        F.col("price").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        return (
            final.select(h.alias("h"), "price")
            .agg(
                F.lit(d["rows_deleted"]).cast("long").alias("rows_deleted"),
                F.lit(u["rows_updated"]).cast("long").alias("rows_updated"),
                F.lit(u["rows_inserted"]).cast("long").alias("rows_inserted"),
                F.count("*").alias("n_rows"),
                F.expr("bit_xor(h)").alias("fingerprint"),
                F.round(F.sum("price"), 2).alias("total_price"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
