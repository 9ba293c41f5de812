"""Per-layer metrics of one traced pass, and the per-layer table.

Span names are ``<layer>.<call>``. ``install`` wraps the names
``dumpty_spark.pipeline`` imports from ``plans`` and ``sinks``, and
``load_table``; ``workloads`` wraps the calls the benchmark makes itself
(``run_pipeline``, ``introspect_jdbc``, ``scan`` and the registry queries).
"""

from __future__ import annotations

import os
import re
import statistics
import threading

from perfbench.trace import Job, Span, max_overlap, self_ms, span_of, union_ms
from perfbench.workloads import FAMILIES, LLM_OPS, RELATIONAL, PassResult

ALL_QUERIES = RELATIONAL + LLM_OPS

RECOUNT = "validate.recount"  # unwrapped jobs described "extract:<table>"


def _sink_table(path: str) -> str:
    """The table a sink path (``<sink_dir>/<table>``) belongs to."""
    return os.path.basename(path.rstrip("/"))


def install(tracer) -> None:
    from dumpty_spark.plans import planner, state, types
    from dumpty_spark.sinks import writers
    from dumpty_spark.sources import parquet

    for owner, attr, name, label in (
        (planner, "introspect_stats", "plans.introspect", None),
        (planner, "introspect_stats_fast", "plans.introspect", None),
        (planner, "plan_partitions", "plans.plan", None),
        (planner, "exact_julienne_boundaries", "plans.julienne", None),
        (types, "normalize_df", "plans.normalize", None),
        (state.StateStore, "put_table", "plans.state_put", lambda a, k: a[1].name),
        (writers, "write_ndjson", "sinks.write", lambda a, k: _sink_table(a[1])),
        (writers, "write_parquet", "sinks.write", lambda a, k: _sink_table(a[1])),
        (writers, "write_schema_sidecar", "sinks.sidecar", lambda a, k: _sink_table(a[1])),
        (writers, "sink_size_bytes", "sinks.size", lambda a, k: _sink_table(os.path.dirname(a[0]))),
        (writers, "advise_partitions", "sinks.advise", None),
        (parquet, "load_table", "sources.parquet.load", lambda a, k: a[2]),
    ):
        tracer.patch(owner, attr, name, label)


UNITS = {"ms": "ms", "s": "s", "bytes": "B", "mb": "MB", "row": "B/row",
         "ratio": "ratio", "skew": "ratio"}


def unit(metric: str) -> str:
    return UNITS.get(re.split(r"[._]", metric)[-1], "count")


def _q(values: list[float], p: float) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, int(p * len(s)))]


def per_layer(res: PassResult, spans: list[Span], jobs: list[Job], queries: list[str],
              storage_held: list[float]) -> dict[str, float]:
    """Per-layer metrics of one traced pass. Every name is always present
    so each workload reports the same set; a layer the workload does not
    touch reads 0."""
    by_sid = {s.sid: s for s in spans}
    incl: dict[str, float] = {}
    for s in spans:
        incl[s.name] = incl.get(s.name, 0.0) + s.ms
    jobs_of: dict[str, list[Job]] = {}
    for j in jobs:
        sid = span_of(j)
        if sid in by_sid:
            name = by_sid[sid].name
        elif j.description and j.description.startswith("extract:"):
            name = RECOUNT
        else:
            name = "other"
        jobs_of.setdefault(name, []).append(j)

    def jsum(name: str, attr: str) -> float:
        return float(sum(getattr(j, attr) for j in jobs_of.get(name, [])))

    m: dict[str, float] = {
        "sources.jdbc.introspect_ms": incl.get("sources.jdbc.introspect", 0.0),
        "sources.jdbc.scan_ms": incl.get("sources.jdbc.scan", 0.0),
        "sources.parquet.load_ms": incl.get("sources.parquet.load", 0.0),
        "sources.parquet.load_jobs": float(len(jobs_of.get("sources.parquet.load", []))),
        "plans.introspect_ms": incl.get("plans.introspect", 0.0),
        "plans.introspect_jobs": float(len(jobs_of.get("plans.introspect", []))),
        "plans.julienne_ms": incl.get("plans.julienne", 0.0),
        "plans.plan_ms": incl.get("plans.plan", 0.0),
        "plans.normalize_ms": incl.get("plans.normalize", 0.0),
        "plans.state_put_ms": incl.get("plans.state_put", 0.0),
        "sinks.write_ms": incl.get("sinks.write", 0.0),
        "sinks.write_jobs": float(len(jobs_of.get("sinks.write", []))),
        "sinks.write_tasks": jsum("sinks.write", "tasks"),
        "sinks.executor_run_ms": jsum("sinks.write", "run_ms"),
        "sinks.executor_cpu_ms": jsum("sinks.write", "cpu_ms"),
        "sinks.gc_ms": jsum("sinks.write", "gc_ms"),
        "sinks.shuffle_bytes": jsum("sinks.write", "shuffle_bytes"),
        "sinks.output_bytes": jsum("sinks.write", "output_bytes"),
        "sinks.write_task_skew": max(
            (x for j in jobs_of.get("sinks.write", []) for x in j.task_skew), default=0.0
        ),
        "sinks.sidecar_ms": incl.get("sinks.sidecar", 0.0),
        "sinks.size_ms": incl.get("sinks.size", 0.0),
        "sinks.bytes_per_row": res.sink_bytes / res.rows if res.rows else 0.0,
        "validate.recount_ms": union_ms([(j.start, j.end) for j in jobs_of.get(RECOUNT, [])],
                                        float("-inf"), float("inf")),
        "spark.tasks_failed": float(sum(j.failed_tasks for j in jobs)),
    }
    m.update(_pipeline_metrics(res, spans, jobs))
    m.update(_query_metrics(spans, jobs_of, queries, storage_held))
    return m


def _pipeline_metrics(res: PassResult, spans: list[Span], jobs: list[Job]) -> dict[str, float]:
    runs = [s for s in spans if s.name == "pipeline.run"]
    out = {k: 0.0 for k in (
        "pipeline.run_ms", "pipeline.driver_only_ms", "pipeline.jobs_per_table",
        "pipeline.table_p50_ms", "pipeline.table_p90_ms", "pipeline.max_tables_in_flight",
        "plans.strategy.bounds", "plans.strategy.predicates", "plans.strategy.single",
        "validate.consistent_ratio",
    )}
    if not runs:
        return out
    run = runs[0]
    inside = [j for j in jobs if run.start <= j.start <= run.end]
    tables = table_intervals(spans, run)
    times = [(e - s) * 1e3 for s, e in tables.values()]
    summary = res.summary or {"tables": {}}
    out.update({
        "pipeline.run_ms": run.ms,
        "pipeline.driver_only_ms": max(0.0, run.ms - union_ms(
            [(j.start, j.end) for j in inside], run.start, run.end)),
        "pipeline.jobs_per_table": len(inside) / max(1, summary.get("n_tables", 1)),
        "pipeline.table_p50_ms": _q(times, 0.5),
        "pipeline.table_p90_ms": _q(times, 0.9),
        "pipeline.max_tables_in_flight": float(max_overlap(list(tables.values()))),
    })
    for t in summary["tables"].values():
        out[f"plans.strategy.{t['strategy']}"] += 1
    if summary["tables"]:
        out["validate.consistent_ratio"] = sum(
            t["consistent"] for t in summary["tables"].values()
        ) / len(summary["tables"])
    return out


def table_intervals(spans: list[Span], run: Span) -> dict[str, tuple[float, float]]:
    """Per table, from its first span to the end of its state put. Each
    table runs on one pipeline worker thread, and the state put is its
    last step, so a thread's spans up to a put belong to that table."""
    out: dict[str, tuple[float, float]] = {}
    by_thread: dict[int, list[Span]] = {}
    for s in spans:
        if s.thread != run.thread and run.start <= s.start <= run.end and s.parent is None:
            by_thread.setdefault(s.thread, []).append(s)
    for seq in by_thread.values():
        seq.sort(key=lambda s: s.start)
        first = None
        for s in seq:
            first = s.start if first is None else first
            if s.name == "plans.state_put":
                out[s.label] = (first, s.end)
                first = None
    return out


def _query_metrics(spans, jobs_of, queries, storage_held) -> dict[str, float]:
    out: dict[str, float] = {}
    for q in queries:
        out[f"queries.{q}.ms"] = 0.0
        out[f"queries.{q}.jobs"] = 0.0
    for fam in FAMILIES:
        for k in ("ms", "driver_only_ms", "executor_cpu_ms", "shuffle_bytes",
                  "executor_run_minus_cpu_ms"):
            out[f"queries.{fam}.{k}"] = 0.0
    out["queries.storage_held_mb"] = max(storage_held, default=0.0)
    for s in spans:
        if not s.name.startswith("queries.") or s.parent is not None:
            continue
        q = s.name[len("queries."):]
        fam = next(f for f, qs in FAMILIES.items() if q in qs)
        # jobs of the query span and of every span nested in it
        mine = _jobs_under(s, spans, jobs_of)
        out[f"queries.{q}.ms"] += s.ms
        out[f"queries.{q}.jobs"] += len(mine)
        run = sum(j.run_ms for j in mine)
        cpu = sum(j.cpu_ms for j in mine)
        out[f"queries.{fam}.ms"] += s.ms
        out[f"queries.{fam}.driver_only_ms"] += max(0.0, s.ms - union_ms(
            [(j.start, j.end) for j in mine], s.start, s.end))
        out[f"queries.{fam}.executor_cpu_ms"] += cpu
        out[f"queries.{fam}.shuffle_bytes"] += sum(j.shuffle_bytes for j in mine)
        out[f"queries.{fam}.executor_run_minus_cpu_ms"] += run - cpu
    return out


def _jobs_under(root: Span, spans: list[Span], jobs_of: dict[str, list[Job]]) -> list[Job]:
    parent = {s.sid: s.parent for s in spans}

    def under(sid):
        while sid is not None:
            if sid == root.sid:
                return True
            sid = parent.get(sid)
        return False

    return [j for js in jobs_of.values() for j in js if under(span_of(j))]


# -- the per-layer table ------------------------------------------------------


def layer_table(passes: list[tuple[PassResult, list[Span], list[Job]]], untraced_s: list[float],
                session_s: float, workload: str, seed: int) -> str:
    """Markdown, averaged over traced passes. Self time is split by thread:
    on the benchmark's thread the layers plus the unwrapped rest add up to
    the pass; on run_pipeline's worker threads they add up to the summed
    per-table time. Spark's counters are those of the jobs each layer's
    spans started."""
    main = threading.main_thread().ident
    rows: dict[str, dict[str, float]] = {}
    pass_ms, table_ms, driver_only = [], [], []
    for res, spans, jobs in passes:
        pass_ms.append(res.wall_s * 1e3)
        selfs = self_ms(spans)
        by_sid = {s.sid: s for s in spans}
        for s in spans:
            r = rows.setdefault(_layer(s.name), _zero())
            r["main_ms" if s.thread == main else "worker_ms"] += selfs[s.sid]
        run = next((s for s in spans if s.name == "pipeline.run"), None)
        if run is not None:
            table_ms.append(sum((e - b) * 1e3 for b, e in table_intervals(spans, run).values()))
        for j in jobs:
            sid = span_of(j)
            name = by_sid[sid].name if sid in by_sid else (
                RECOUNT if (j.description or "").startswith("extract:") else "other")
            r = rows.setdefault(_layer(name), _zero())
            if name == RECOUNT:  # runs on a pipeline worker outside any span
                r["worker_ms"] += (j.end - j.start) * 1e3
            r["jobs"] += 1
            r["tasks"] += j.tasks
            r["run_ms"] += j.run_ms
            r["cpu_ms"] += j.cpu_ms
            r["gc_ms"] += j.gc_ms
            r["shuffle_mb"] += j.shuffle_bytes / 2**20
            r["output_mb"] += j.output_bytes / 2**20
        lo = min((s.start for s in spans), default=0.0)
        driver_only.append(res.wall_s * 1e3 - union_ms([(j.start, j.end) for j in jobs],
                                                        lo, lo + res.wall_s))
    n = len(passes)
    traced = statistics.median(pass_ms)
    untraced = statistics.median(untraced_s) * 1e3 if untraced_s else float("nan")
    avg = {k: {f: v / n for f, v in r.items()} for k, r in rows.items()}
    tables = sum(table_ms) / n if table_ms else 0.0
    main_rest = sum(pass_ms) / n - sum(r["main_ms"] for r in avg.values())
    avg["(unwrapped, benchmark thread)"] = dict(_zero(), main_ms=main_rest)
    if tables:
        rest = tables - sum(r["worker_ms"] for r in avg.values())
        avg["(unwrapped, pipeline workers)"] = dict(_zero(), worker_ms=rest)
    lines = [
        f"### {workload} (seed {seed})",
        "",
        f"Pass wall time: traced {traced:.0f} ms (median of {n}), untraced {untraced:.0f} ms "
        f"(median of {len(untraced_s)}); tracing overhead {traced - untraced:+.0f} ms. "
        f"Driver-only time (no Spark job running): {statistics.median(driver_only):.0f} ms "
        f"of the pass. Summed per-table time on pipeline workers: {tables:.0f} ms. "
        f"Session start {session_s:.1f} s.",
        "",
        "| layer | self ms, benchmark thread | share of pass | self ms, pipeline workers "
        "| share of table time | jobs | tasks | executor run ms | executor cpu ms | gc ms "
        "| shuffle MB | output MB |",
        "|---|---:|---:|---:|---:|---:|---:|---:|---:|---:|---:|---:|",
    ]
    mean_pass = sum(pass_ms) / n
    for layer in sorted(avg):
        r = avg[layer]
        lines.append(
            f"| {layer} | {r['main_ms']:.0f} | {r['main_ms'] / mean_pass:.1%} "
            f"| {r['worker_ms']:.0f} | {(r['worker_ms'] / tables) if tables else 0:.1%} "
            f"| {r['jobs']:.1f} | {r['tasks']:.0f} | {r['run_ms']:.0f} | {r['cpu_ms']:.0f} "
            f"| {r['gc_ms']:.0f} | {r['shuffle_mb']:.2f} | {r['output_mb']:.2f} |"
        )
    return "\n".join(lines) + "\n"


def _layer(name: str) -> str:
    if name.startswith("queries."):
        q = name[len("queries."):]
        return "queries." + next((f for f, qs in FAMILIES.items() if q in qs), q)
    return name


def _zero() -> dict[str, float]:
    return {k: 0.0 for k in ("main_ms", "worker_ms", "jobs", "tasks", "run_ms", "cpu_ms",
                             "gc_ms", "shuffle_mb", "output_mb")}
