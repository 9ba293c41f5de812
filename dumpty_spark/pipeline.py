"""Concurrent multi-table ELT pipeline (SURVEY §2.9, slimmed).

The reference hand-rolls a 3-stage queue machine (introspect → extract →
load, pipeline.py:130-152) because nothing else scheduled its work. On
Spark, concurrent actions on one session ARE the queue machine, so each
table runs introspect→plan→extract→validate as one task on a thread
pool; Spark's scheduler multiplexes the cluster across them. What
survives from the reference is the *decisions*: TTL-cached introspection
(I3), the partition planner (X8), target-size feedback (X6), row-count
reconciliation (X7), and the run summary (main.py:317-332 parity).

Scale: thread count bounds concurrent Spark jobs (the reference's
extract_workers=64 production knob); each job's internal parallelism
comes from its scan plan. The session runs Spark's default FIFO
scheduler: a job's tasks start only once every task of the jobs
submitted before it has started, so the small tables submitted after a
huge table wait for its tasks to be placed on a core.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dumpty_spark.plans.planner import (
    PartitionPlan,
    TableStats,
    exact_julienne_boundaries,
    introspect_stats,
    introspect_stats_fast,
    plan_partitions,
)
from dumpty_spark.plans.state import StateStore, TableState
from dumpty_spark.plans.types import normalize_df
from dumpty_spark.sinks.writers import (
    advise_partitions,
    sink_size_bytes,
    write_ndjson,
    write_parquet,
    write_schema_sidecar,
)
from dumpty_spark.sources.jdbc import introspect_jdbc, scanned


@dataclass
class PipelineConfig:
    sink_dir: str
    sink_format: str = "parquet"  # "parquet" | "json"
    rows_per_partition: int = 1_000_000
    introspection_ttl_s: float = 14 * 24 * 3600.0  # reference prod default
    normalize_schema: bool = True
    workers: int = 8  # reference extract_workers default
    pk_by_table: dict[str, str] = field(default_factory=dict)
    # A4 fastcount (reference --fastcount, main.py:59-60): answer
    # introspection from parquet footers (zero Spark jobs) when the
    # table's source path is known; exact for parquet, unlike the
    # sp_spaceused estimate it replaces.
    fastcount: bool = False
    source_dir: str | None = None


def _process_table(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    cfg: PipelineConfig,
    store: StateStore,
) -> TableState:
    spark.sparkContext.setJobDescription(f"extract:{name}")
    state = store.get_table(name) or TableState(name=name)
    pk = cfg.pk_by_table.get(name)

    # introspect (I3: reuse within TTL). A JDBC scan names its source and
    # runs its own plan: introspect the source on the driver and record
    # that plan. Any other frame is introspected itself (parquet footers
    # under fastcount) and planned.
    if not state.introspection_fresh(cfg.introspection_ttl_s):
        jdbc_scan = scanned(df)
        if jdbc_scan is not None:
            stats = introspect_jdbc(spark, jdbc_scan[0], pk)
        else:
            stats = None
            if cfg.fastcount and cfg.source_dir:
                src_path = os.path.join(cfg.source_dir, f"{name}.parquet")
                if os.path.exists(src_path):
                    stats = introspect_stats_fast(src_path, pk)
            if stats is None:
                stats = introspect_stats(df, pk)
        state.rows = stats.rows
        state.min, state.max = stats.min, stats.max
        state.introspect_ts = time.time()
        plan = jdbc_scan[1] if jdbc_scan else _plan(df, pk, stats, cfg, state.advised_partitions)
        state.strategy = plan.strategy
        state.partition_column = plan.column
        state.partitions = plan.partitions
        state.predicates = plan.predicates or None

    out = normalize_df(df) if cfg.normalize_schema else df
    if cfg.sink_format == "json":
        # X7 counter rides the write job itself (Observation): zero extra
        # jobs, the Spark analog of the reference's load-job-reported
        # output_rows (gcp.py:183) — the BQ job doesn't re-scan GCS
        # either. A parquet sink reconciles from its footers instead.
        obs = Observation(f"extract:{name}")
        out = out.observe(obs, F.count(F.lit(1)).alias("rows_written"))
    path = f"{cfg.sink_dir}/{name}"
    # files: last run's size advice, else one per planned slice, and at
    # least one per rows_per_partition rows, so a large table read
    # through one cursor still encodes in parallel
    n_parts = state.advised_partitions or max(
        state.partitions or 1, round((state.rows or 0) / cfg.rows_per_partition)
    )
    if cfg.sink_format == "json":
        glob_uri = write_ndjson(out, path, partitions=n_parts)
    else:
        glob_uri = write_parquet(out, path, partitions=n_parts)
    state.extract_uri = glob_uri
    state.extract_ts = time.time()
    # driver-side sink I/O goes through the X4 retryer (Spark task
    # retries don't cover these calls)
    state.warnings = with_retries(lambda: list(write_schema_sidecar(out, path)))

    # validate (X7) — json trusts the observed write-job count (a re-read
    # would gunzip every byte again); parquet counts the rows at rest
    # from the footers of the files just written, on the driver with no
    # Spark job: the strictly stronger check, since a part file lost
    # after the write shows up as missing rows
    if cfg.sink_format == "json":
        state.rows_loaded = int(obs.get["rows_written"])
    else:
        state.rows_loaded = introspect_stats_fast(path).rows

    # size feedback (X6)
    state.sink_bytes = with_retries(sink_size_bytes, glob_uri)
    state.advised_partitions = advise_partitions(state.sink_bytes, n_parts)

    store.put_table(state)
    return state


def _plan(
    df: DataFrame,
    pk: str | None,
    stats: TableStats,
    cfg: PipelineConfig,
    partitions_hint: int | None,
) -> PartitionPlan:
    """X8 for a frame that is not a JDBC scan: the plan only sizes the
    sink, so a skewed key's julienne boundaries are computed over the
    frame itself."""
    if pk is None or not stats.rows:
        return PartitionPlan(strategy="single")
    try:
        return plan_partitions(stats, cfg.rows_per_partition, partitions_override=partitions_hint)
    except ValueError:
        width = max(1, stats.rows // max(1, round(stats.rows / cfg.rows_per_partition)))
        return plan_partitions(
            stats,
            cfg.rows_per_partition,
            partitions_override=partitions_hint,
            boundaries=exact_julienne_boundaries(df, pk, width),
        )


def with_retries(
    fn,
    *args,
    attempts: int = 3,
    base_delay_s: float = 5.0,
    max_delay_s: float = 30.0,
    retriable=(IOError, OSError),
    sleep=time.sleep,
):
    """X4: exponential-backoff retry around non-Spark I/O (the reference
    wraps its GCS/BQ calls in tenacity, src/dumpty/main.py:167-171 —
    5-30 s backoff, permanent errors excluded). Spark TASK retries are
    the engine's own (`spark.task.maxFailures`); this guards the
    driver-side sink/catalog calls those retries don't cover. Errors
    outside ``retriable`` propagate immediately, like the reference's
    BadRequest skip."""
    delay = base_delay_s
    for i in range(attempts):
        try:
            return fn(*args)
        except retriable:
            if i == attempts - 1:
                raise
            sleep(delay)
            delay = min(delay * 2, max_delay_s)


def run_pipeline(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    cfg: PipelineConfig,
    store: StateStore,
) -> dict:
    """Extract every table concurrently; return the run summary
    (reference main.py:317-332 parity: totals + per-table stats +
    consistency)."""
    t0 = time.time()
    results: dict[str, TableState] = {}
    errors: dict[str, str] = {}
    with ThreadPoolExecutor(max_workers=cfg.workers) as pool:
        futs = {
            pool.submit(_process_table, spark, name, df, cfg, store): name
            for name, df in tables.items()
        }
        for fut, name in futs.items():
            try:
                results[name] = fut.result()
            except Exception as e:  # route to the error queue, don't abort peers
                errors[name] = repr(e)
    summary = {
        "elapsed_s": round(time.time() - t0, 3),
        "n_tables": len(tables),
        "n_ok": len(results),
        "n_errors": len(errors),
        "errors": errors,
        "total_rows": sum(s.rows or 0 for s in results.values()),
        "total_bytes": sum(s.sink_bytes or 0 for s in results.values()),
        "all_consistent": all(s.consistent() for s in results.values()),
        "tables": {
            n: {
                "rows": s.rows,
                "rows_loaded": s.rows_loaded,
                "consistent": s.consistent(),
                "strategy": s.strategy,
                "partitions": s.partitions,
                "sink_bytes": s.sink_bytes,
                "advised_partitions": s.advised_partitions,
                "warnings": s.warnings,
            }
            for n, s in sorted(results.items())
        },
    }
    return summary
