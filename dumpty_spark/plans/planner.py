"""Partition planner: bounds / equal-frequency predicates / single scan.

Re-expresses the reference's scan-planning decision tree (reference:
src/dumpty/pipeline.py:359-400 and README.md:23-39) Spark-first:

- **bounds** — numeric, dense (gap-free) PK → even ranges, which map 1:1
  onto ``spark.read.jdbc(column=, lowerBound=, upperBound=,
  numPartitions=)``;
- **predicates** ("julienne") — skewed or non-numeric PK → equal-FREQUENCY
  boundaries, one WHERE predicate per slice, NULLs routed to the first
  slice so no row is dropped (reference pipeline.py:386-398);
- **single** — too small, or too few distinct keys (<10% boundary yield).

Scale note: the reference computes boundaries with a global
``ROW_NUMBER() OVER (ORDER BY pk)`` (pipeline.py:243), pushed to MSSQL.
Against a JDBC source the same query runs on the database
(``sources.jdbc.julienne_boundaries_jdbc``). Over a DataFrame,
``exact_julienne_boundaries`` keeps the reference's exact semantics with
a global window, which is one task at the sort boundary; the pipeline
uses it to size the sink of a skewed-key frame that is not a JDBC scan.
``approx_boundaries`` (``approxQuantile``, Greenwald-Khanna, fully
distributed, one pass) is the alternative for frames too large for that.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from math import ceil
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

DEFAULT_ROWS_PER_PARTITION = 1_000_000  # reference config.py:55
MIN_BOUNDARY_YIELD = 0.10  # reference pipeline.py:379-384


@dataclass
class TableStats:
    """Single-pass introspection result (SURVEY A1)."""

    rows: int
    min: Any = None
    max: Any = None
    pk: str | None = None
    pk_numeric: bool = False


@dataclass
class PartitionPlan:
    strategy: str  # "bounds" | "predicates" | "single"
    partitions: int = 1
    column: str | None = None
    lower: Any = None
    upper: Any = None
    boundaries: list = field(default_factory=list)
    predicates: list[str] = field(default_factory=list)


def introspect_stats(df: DataFrame, pk: str | None) -> TableStats:
    """min/max/count in ONE distributed aggregate pass (reference runs one
    SQL query, pipeline.py:328-339; same shape here, executed by Spark)."""
    if pk is None:
        return TableStats(rows=df.count())
    from pyspark.sql import types as T

    row = df.agg(
        F.count("*").alias("rows"), F.min(pk).alias("mn"), F.max(pk).alias("mx")
    ).collect()[0]
    numeric = isinstance(df.schema[pk].dataType, T.NumericType)
    return TableStats(rows=row["rows"], min=row["mn"], max=row["mx"], pk=pk, pk_numeric=numeric)


def introspect_stats_fast(path: str, pk: str | None = None) -> TableStats:
    """A4 "fastcount": answer COUNT/MIN/MAX from parquet FOOTERS only —
    the reference's ``sp_spaceused`` approximate-count fast path
    (pipeline.py:342-347, opt-in --fastcount) re-expressed for columnar
    storage, where the metadata count is not approximate but exact.

    Reads footer metadata through pyarrow; no SparkSession is involved,
    so the fast path provably runs ZERO Spark jobs (asserted by a
    job-group listener test in tests/test_planner.py). min/max come from
    row-group column statistics when every row group carries them
    (exact for numeric types); otherwise they are left None and the
    planner falls back to boundary-driven strategies.
    """
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq
    import pyarrow.types as _pat

    if _os.path.isdir(path):
        files = sorted(
            f
            for f in _glob.glob(_os.path.join(path, "*.parquet"))
            if _os.path.isfile(f)
        )
    else:
        files = [path]
    if not files:
        return TableStats(rows=0, pk=pk)

    rows = 0
    mn = mx = None
    stats_complete = pk is not None
    numeric = False
    for f in files:
        md = _pq.ParquetFile(f).metadata
        rows += md.num_rows
        if pk is None:
            continue
        schema = md.schema.to_arrow_schema()
        if pk not in schema.names:
            raise KeyError(f"pk column {pk!r} not in parquet schema of {f}")
        numeric = _pat.is_integer(schema.field(pk).type) or _pat.is_floating(
            schema.field(pk).type
        )
        ci = md.schema.to_arrow_schema().names.index(pk)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                stats_complete = False
                continue
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
    if pk is None:
        return TableStats(rows=rows)
    if not stats_complete:
        mn = mx = None
    return TableStats(rows=rows, min=mn, max=mx, pk=pk, pk_numeric=numeric)


def _is_dense(stats: TableStats) -> bool:
    """Gap-free sequential PK test (reference pipeline.py:372): rows==max,
    rows==max-1, or |rows-(max-min)|<=1."""
    if not stats.pk_numeric or stats.min is None or stats.max is None:
        return False
    rows, mn, mx = stats.rows, int(stats.min), int(stats.max)
    return rows == mx or rows == mx - 1 or abs(rows - (mx - mn)) <= 1


def exact_julienne_boundaries(df: DataFrame, pk: str, width: int) -> list:
    """Exact equal-frequency boundaries: every ``width``-th value of pk in
    sort order (reference _julienne, pipeline.py:236-267).

    Uses a global ordered window — O(1 task) at the sort boundary, so this
    is the PARITY path for modest tables; at scale use
    ``approx_boundaries``. Distinct-ifies like the reference so duplicate
    boundary values collapse.
    """
    w = W.orderBy(pk)
    rows = (
        df.select(F.col(pk).alias("id"), F.row_number().over(w).alias("rn"))
        .filter((F.col("rn") % width) == 0)
        .select("id")
        .distinct()
        .orderBy("id")
        .collect()
    )
    return [r["id"] for r in rows]


def approx_boundaries(df: DataFrame, pk: str, n_partitions: int, rel_err: float = 0.001) -> list:
    """Distributed equal-frequency boundaries via approxQuantile (numeric
    pk) — one pass, no global sort, works at any scale."""
    probs = [i / n_partitions for i in range(1, n_partitions)]
    vals = df.stat.approxQuantile(pk, probs, rel_err)
    out: list = []
    for v in vals:  # dedupe while keeping order, like the reference's DISTINCT
        if not out or v != out[-1]:
            out.append(v)
    return out


def plan_partitions(
    stats: TableStats,
    rows_per_partition: int = DEFAULT_ROWS_PER_PARTITION,
    partitions_override: int | None = None,
    boundaries: list | None = None,
) -> PartitionPlan:
    """The decision tree (reference pipeline.py:359-400).

    ``boundaries`` lets the caller supply precomputed slice boundaries
    (exact or approximate); required for the predicates path.
    """
    if stats.pk is None or stats.rows == 0:
        return PartitionPlan(strategy="single")
    partitions = (
        partitions_override
        if partitions_override is not None
        else round(stats.rows / rows_per_partition)
    )
    if partitions <= 1:
        return PartitionPlan(strategy="single")

    if _is_dense(stats):
        return PartitionPlan(
            strategy="bounds",
            partitions=partitions,
            column=stats.pk,
            lower=stats.min,
            upper=stats.max,
        )

    if boundaries is None:
        raise ValueError("predicates path needs boundaries (exact or approx)")
    if len(boundaries) / partitions < MIN_BOUNDARY_YIELD:
        # not enough distinct keys to slice — reference's single-thread
        # fallback (pipeline.py:379-384)
        return PartitionPlan(strategy="single")
    return PartitionPlan(
        strategy="predicates",
        partitions=len(boundaries) + 1,
        column=stats.pk,
        boundaries=list(boundaries),
        predicates=predicates_from_boundaries(stats.pk, boundaries, numeric=stats.pk_numeric),
    )


def predicates_from_boundaries(column: str, boundaries: list, numeric: bool) -> list[str]:
    """N boundaries → N+1 SQL WHERE clauses covering the domain exactly
    once, NULLs routed to the first slice (SURVEY P2/P3, reference
    pipeline.py:386-398). Strings are quoted; these feed
    ``spark.read.jdbc(predicates=...)`` verbatim."""
    q = "" if numeric else "'"

    def lit(v: Any) -> str:
        return f"{q}{v}{q}"

    n = len(boundaries)
    preds: list[str] = []
    for i in range(n + 1):
        if i == 0:
            preds.append(f"{column} <= {lit(boundaries[0])} OR {column} IS NULL")
        elif i == n:
            preds.append(f"{column} > {lit(boundaries[n - 1])}")
        else:
            preds.append(
                f"{column} > {lit(boundaries[i - 1])} AND {column} <= {lit(boundaries[i])}"
            )
    return preds


def slice_predicates_as_columns(column: str, boundaries: list) -> list[Column]:
    """The same slices as typed Column expressions (no string casting, no
    collation hazards) — for slicing DataFrames or building in-engine
    partition-parallel reads."""
    c = F.col(column)
    n = len(boundaries)
    out: list[Column] = []
    for i in range(n + 1):
        if i == 0:
            out.append((c <= F.lit(boundaries[0])) | c.isNull())
        elif i == n:
            out.append(c > F.lit(boundaries[n - 1]))
        else:
            out.append((c > F.lit(boundaries[i - 1])) & (c <= F.lit(boundaries[i])))
    return out


def slice_id_column(column: str, boundaries: list) -> Column:
    """Assign each row its slice id in one expression (CASE chain) — used
    by the metamorphic partition-parity tests and by in-engine
    repartitioning on julienne boundaries."""
    c = F.col(column)
    expr = F.when(c.isNull() | (c <= F.lit(boundaries[0])), F.lit(0))
    for i in range(1, len(boundaries)):
        expr = expr.when(c <= F.lit(boundaries[i]), F.lit(i))
    return expr.otherwise(F.lit(len(boundaries)))


_NUMERIC_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
}


def profile_columns(df: DataFrame) -> DataFrame:
    """Whole-table column profile in ONE scan: per column, the row count,
    null count, exact distinct count, and (numeric columns only, so the
    output type is engine-stable) min/max as doubles.

    Generalizes the reference's single-PK introspection
    (pipeline.py:328-339 — SELECT max(pk), min(pk), count(*)) to every
    column at once: the planner's input stats, the data-quality report,
    and the schema-drift detector in one pass. All aggregates fold into a
    single partial-agg shuffle of one row per partition; the per-column
    fan-out happens on the 1-row result, not the data."""
    cols = df.columns
    types = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("__total")]
    for c in cols:
        aggs.append(F.count(c).alias(f"__cnt_{c}"))
        aggs.append(F.countDistinct(c).alias(f"__dist_{c}"))
        if types[c] in _NUMERIC_TYPES or types[c].startswith("decimal"):
            aggs.append(F.round(F.min(F.col(c).cast("double")), 4).alias(f"__min_{c}"))
            aggs.append(F.round(F.max(F.col(c).cast("double")), 4).alias(f"__max_{c}"))
    one = df.agg(*aggs)
    structs = []
    for c in cols:
        numeric = types[c] in _NUMERIC_TYPES or types[c].startswith("decimal")
        structs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__total").alias("n_rows"),
                (F.col("__total") - F.col(f"__cnt_{c}")).alias("n_nulls"),
                F.col(f"__dist_{c}").alias("n_distinct"),
                (F.col(f"__min_{c}") if numeric else F.lit(None).cast("double")).alias("min_num"),
                (F.col(f"__max_{c}") if numeric else F.lit(None).cast("double")).alias("max_num"),
            )
        )
    return one.select(F.explode(F.array(*structs)).alias("p")).select("p.*")
