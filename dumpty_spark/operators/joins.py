"""Skew-resistant join strategies.

AQE's skew-join split (on in session.py) handles MOST skew at runtime by
splitting oversized shuffle partitions — but it only helps sort-merge
joins and only after the skewed shuffle files exist. ``salted_join`` is
the planning-time tool for the pathological case: a join key where one
value holds a double-digit percentage of all rows (nulls-as-key,
sentinel ids, power-law user ids), which no partition split can fix
because a SINGLE KEY cannot be split by key-hash partitioning.

Salting rewrites the join so it can: the skewed (large) side gets a
deterministic salt in [0, S), the small side is replicated S times, and
the join key becomes (key, salt) — the hot key now spreads over S tasks.
Replication cost is S× the SMALL side only, so choose the side order the
way you'd choose a broadcast side. Semantics are exactly the plain join
(oracle-checked in queries/relational2-adjacent suite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dumpty_spark.session import jvm


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: list[str],
    how: str = "inner",
    salt_buckets: int = 8,
) -> DataFrame:
    """Join ``large`` ⋈ ``small`` on ``on`` with the large side salted
    over ``salt_buckets`` sub-keys.

    The salt is ``xxhash64(whole large row) mod S`` — deterministic (no
    rand(), so retried tasks re-derive the same salt) and uniform even
    when the join key itself is constant. The small side is exploded
    once per salt value. Output columns match a plain join.
    """
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti", "cross"):
        # unmatched SMALL rows would surface once per replica
        raise ValueError(f"salted_join cannot preserve '{how}' semantics: "
                         "the replicated side would duplicate unmatched rows")
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in large.columns]), F.lit(salt_buckets)
    ).cast("int")
    l_salted = large.withColumn("__salt", salt)
    s_replicated = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return l_salted.join(s_replicated, [*on, "__salt"], how).drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Materialize ``df`` as a bucketed (+ optionally sorted) table —
    Spark's at-rest co-location. Two facts bucketed on their join key
    with the SAME bucket count join with ZERO shuffle (and zero sort,
    if sortBy matches): the exchange both sides would need is already
    baked into the file layout. This is the 100 TB answer to the
    repeated fact⋈fact join — pay the shuffle once at ingest, never
    again per query (plan-asserted in tests/test_plans.py).
    """
    if not table.replace("_", "").isalnum() or "." in table:
        # the orphan-dir cleanup below derives <warehouse>/<table> — a
        # db-qualified or otherwise exotic name would aim the recursive
        # delete at the wrong path (and splice unvalidated SQL)
        raise ValueError(
            f"write_bucketed needs a plain unqualified table name, got {table!r}"
        )
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a previous PROCESS may have left the managed location behind while
    # this session's metastore has no such table — saveAsTable refuses
    # (LOCATION_ALREADY_EXISTS); clear the orphan dir through Hadoop FS
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    loc = jvm(spark, "org.apache.hadoop.fs.Path")(
        spark.conf.get("spark.sql.warehouse.dir"), table.lower()
    )
    fs = loc.getFileSystem(hconf)
    if fs.exists(loc):
        fs.delete(loc, True)
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def bucketed_join(
    spark, left_table: str, right_table: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two bucketed tables on their bucket key. The plan contains no
    Exchange on either side — scan partitions are bucket-aligned."""
    return spark.table(left_table).join(spark.table(right_table), on, how)
