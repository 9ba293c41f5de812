"""Shared operator utilities."""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def run_overlapped(
    spark: SparkSession,
    fns: Iterable[Callable[[], Any]],
    max_workers: int | None = None,
) -> list[Any]:
    """Run independent driver-side thunks concurrently (guide §2.6) and
    return their results in submission order.

    Every thunk is wrapped with ``pyspark.inheritable_thread_target``
    (session form) when the gateway runs in pinned-thread mode, so the
    submitting thread's JVM local properties — job group, job
    description, scheduler pool — are inherited by the pool threads.
    Without this, jobs submitted from a plain ThreadPoolExecutor under
    pinned-thread mode escape job-group attribution: the
    stage_task_counts pattern in tests and bench/profiler job-group
    accounting silently miss threaded stages (ADVICE r11 #4). In
    non-pinned mode all Python threads share one JVM thread and local
    properties are already common, so the thunks run unwrapped (matching
    upstream's own dispatch in ``inheritable_thread_target``).
    """
    from concurrent.futures import ThreadPoolExecutor

    fns = list(fns)
    if not fns:
        return []
    if len(fns) == 1:
        return [f() for f in fns]
    try:
        from py4j.clientserver import ClientServer
        from pyspark import SparkContext, inheritable_thread_target

        if isinstance(SparkContext._gateway, ClientServer):
            deco = inheritable_thread_target(spark)
            fns = [deco(f) for f in fns]
    except Exception:  # pragma: no cover - defensive: overlap still works
        pass
    with ThreadPoolExecutor(max_workers=max_workers or len(fns)) as pool:
        futures = [pool.submit(f) for f in fns]
        return [f.result() for f in futures]


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Give CPU-heavy per-row operators (shingling, hashing, decoding) a
    parallelism floor.

    A small parquet file scans as ONE task, which serializes all downstream
    compute on one core; at 100 TB inputs are already wide and this is a
    no-op (we never coalesce down). The repartition cost on a small input
    is negligible next to the compute it unblocks."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def round_half_up(x: float, scale: int) -> float:
    """Driver-side replica of Spark's ``F.round`` on DoubleType (and
    DuckDB's ``ROUND``): decimal HALF_UP — away from zero at ties — on
    the double's SHORTEST decimal representation. Java's
    ``BigDecimal.valueOf(double)`` goes through ``Double.toString`` and
    Python's ``repr(float)`` is the same shortest-roundtrip string, so
    ``Decimal(repr(x))`` sees the identical decimal BigDecimal does.
    Used by driver-regime fast paths that must requantize exactly like
    the in-plan expression they replace."""
    import decimal

    if x != x or x in (float("inf"), float("-inf")):
        return x
    q = decimal.Decimal(1).scaleb(-scale)
    return float(
        decimal.Decimal(repr(float(x))).quantize(
            q, rounding=decimal.ROUND_HALF_UP
        )
    )
