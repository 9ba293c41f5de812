"""Round-8 engine extensions, thirteenth batch (EXT E223-E224): the
single-pass MERGE INTO audit and the cross-format sink/source parity
audit.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dumpty_spark.queries import register
from dumpty_spark.session import scratch_cleanup, warehouse_scratch
from dumpty_spark.sources.parquet import load_table

# ---------------------------------------------------------------------------
# E223: MERGE INTO at rest, single pass
# ---------------------------------------------------------------------------
# E131 proved delete-then-upsert as two passes; real CDC batches carry
# a MIX of ops, and the Delta/Iceberg MERGE contract is that one batch
# costs one targeted pass: WHEN MATCHED AND op='D' DELETE, WHEN
# MATCHED AND op='U' UPDATE, WHEN NOT MATCHED INSERT — with a file hit
# by both a delete and an update rewritten ONCE (sinks/writers.
# merge_keys). The audit applies one mixed batch (%97 deletes, %101
# updates, +1e7 inserts — the E131 scattered-key worst case) to a
# range-clustered orders store and hashes the operator's own counters
# plus the post-merge XOR table fingerprint against the oracle's
# from-scratch reconstruction, plus the file-economy boolean the
# single-pass contract exists for: files_rewritten <= files hit, both
# strictly under the store's file count.

_MERGE_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         ROUND(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 4 = 0
),
upd AS (
  SELECT k, status, ROUND(price * 1.1, 2) AS price
  FROM base WHERE k % 101 = 0 AND k % 97 != 0
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
                             price::VARCHAR), 1, 15))::BIGINT AS h
  FROM final
)
SELECT (SELECT COUNT(*) FROM base WHERE k % 97 = 0)::BIGINT AS rows_deleted,
       (SELECT COUNT(*) FROM base
         WHERE k % 101 = 0 AND k % 97 != 0)::BIGINT AS rows_updated,
       (SELECT COUNT(*) FROM base WHERE k % 89 = 0)::BIGINT AS rows_inserted,
       (SELECT COUNT(*) FROM final)::BIGINT AS n_rows,
       (SELECT bit_xor(h) FROM fp)::BIGINT AS fingerprint,
       TRUE AS one_pass_ok
"""


@register(
    "q_merge_audit",
    oracle=_MERGE_ORACLE,
    doc="single-pass MERGE INTO audit (E223): one mixed CDC batch "
    "(deletes %97, updates %101, inserts +1e7) applied to a "
    "range-clustered store via merge_keys — operator counters + "
    "post-merge XOR fingerprint == the oracle's from-scratch "
    "reconstruction, and each hit file rewritten exactly once "
    "regardless of the op mix (the Delta/Iceberg MERGE cost contract)",
)
def q_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dumpty_spark.sinks.writers import merge_keys, write_range_clustered

    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.round("o_totalprice", 2).alias("price"),
        )
    )
    scratch = warehouse_scratch(spark, "mergeaudit")
    store = f"{scratch}/store"
    try:
        write_range_clustered(base, store, ["k"], num_files=8)
        # %101∩%97 keys would carry BOTH ops; merge_keys refuses an
        # ambiguous feed (the Delta multiple-source-rows-matched
        # error), so the change feed resolves the conflict upstream by
        # excluding deleted keys from the update half — as the oracle
        deletes = base.filter(F.col("k") % 97 == 0).select(
            "k", "status", "price", F.lit("D").alias("op")
        )
        updates = (
            base.filter((F.col("k") % 101 == 0) & (F.col("k") % 97 != 0))
            .withColumn("price", F.round(F.col("price") * 1.1, 2))
            .select("k", "status", "price", F.lit("U").alias("op"))
        )
        inserts = (
            base.filter(F.col("k") % 89 == 0)
            .withColumn("k", F.col("k") + F.lit(10000000))
            .select("k", "status", "price", F.lit("U").alias("op"))
        )
        changes = deletes.unionByName(updates).unionByName(inserts)
        n_store_files = len(
            [p for p in glob.glob(f"{store}/part-*") if os.path.isfile(p)]
        )
        m = merge_keys(spark, store, "k", changes)
        one_pass_ok = bool(0 < m["files_rewritten"] <= n_store_files)

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
        ).cast("long")
        return (
            final.select(h.alias("h"))
            .agg(
                F.lit(m["rows_deleted"]).cast("long").alias("rows_deleted"),
                F.lit(m["rows_updated"]).cast("long").alias("rows_updated"),
                F.lit(m["rows_inserted"]).cast("long").alias("rows_inserted"),
                F.count("*").alias("n_rows"),
                F.expr("bit_xor(h)").alias("fingerprint"),
                F.lit(one_pass_ok).alias("one_pass_ok"),
            )
            .localCheckpoint()
        )
    finally:
        scratch_cleanup(spark, scratch)


# ---------------------------------------------------------------------------
# E224: cross-format sink/source parity audit
# ---------------------------------------------------------------------------
# The format surface in one contract: the SAME frame written as
# parquet, ORC, gzip-JSON-lines and CSV, each read back through its own
# source, must XOR-fingerprint identically to the in-memory truth —
# i.e. every format round-trips values, not just row counts. Extends
# the single-format E156 ORC leg to the full matrix the reference's
# load path exposes (gcp.py load formats); the per-format readers are
# the engine's own (schema-on-read for JSON/CSV with explicit schema —
# inference is banned on the 100 TB path, one sampling pass saved).

_FORMATS = ("parquet", "orc", "json", "csv")

_FORMAT_ORACLE = """
SELECT f.format,
       (SELECT COUNT(*) FROM documents)::BIGINT AS n_rows,
       TRUE AS fp_ok
FROM (SELECT UNNEST(['csv', 'json', 'orc', 'parquet']) AS format) f
ORDER BY f.format
"""


@register(
    "q_format_parity",
    oracle=_FORMAT_ORACLE,
    doc="cross-format sink/source parity (E224): documents written as "
    "parquet / ORC / gzip JSON-lines / CSV, read back through each "
    "source with explicit schema (inference banned at scale), XOR "
    "fingerprint per format == the in-memory truth — the reference's "
    "load-format matrix as one value-level contract",
)
def q_format_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    scratch = warehouse_scratch(spark, "formatparity")

    def fp_agg(df: DataFrame):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("doc_id").cast("string"),
                        F.col("source"),
                        F.col("text"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        return df.select(h.alias("h")).agg(
            F.count("*").alias("n"), F.expr("bit_xor(h)").alias("fp")
        ).first()

    schema = "doc_id long, source string, text string"

    # the four format legs are independent round-trips into disjoint
    # directories — run them (and the in-memory truth fingerprint) from
    # a thread pool (r11 optimization, guide §2.6); per-leg computation
    # and the value-level parity contract are unchanged
    def leg(fmt: str):
        path = os.path.join(scratch, fmt)
        w = docs.write.mode("overwrite")
        if fmt == "json":
            w.option("compression", "gzip").json(path)
            back = spark.read.schema(schema).json(path)
        elif fmt == "csv":
            w.option("header", True).csv(path)
            back = spark.read.schema(schema).option("header", True).csv(
                path
            )
        elif fmt == "orc":
            w.orc(path)
            back = spark.read.orc(path)
        else:
            w.parquet(path)
            back = spark.read.parquet(path)
        return fp_agg(back.select("doc_id", "source", "text"))

    from dumpty_spark.operators.util import run_overlapped

    rows = []
    try:
        results = run_overlapped(
            spark,
            [(lambda f=f: leg(f)) for f in _FORMATS]
            + [lambda: fp_agg(docs)],
        )
        truth = results[-1]
        for fmt, got in zip(_FORMATS, results):
            rows.append(
                (fmt, got["n"],
                 bool(got["fp"] == truth["fp"] and got["n"] == truth["n"]))
            )
    finally:
        scratch_cleanup(spark, scratch)
    return spark.createDataFrame(
        rows, "format string, n_rows long, fp_ok boolean"
    ).orderBy("format")
