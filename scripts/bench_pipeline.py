#!/usr/bin/env python
"""Ingestion-throughput benchmark: the reference's core workload — bulk
table extract into compressed NDJSON + sidecar + reconcile — through
run_pipeline at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line {"metric": "pipeline_rows_per_sec", ...} and
writes PIPELINE_BENCH.json next to the repo's other committed
summaries. The reference publishes no throughput numbers (BASELINE.md),
so this records our own floor per round. ``jobs_per_table`` is the
number of Spark jobs the run started per table, read from Spark's status
store: the per-table fixed cost that dominates a fleet of small tables.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tables = ["customer", "orders", "lineitem", "events", "documents"]

    from dumpty_spark.pipeline import PipelineConfig, run_pipeline
    from dumpty_spark.plans.state import StateStore
    from dumpty_spark.session import get_session, last_job_id
    from dumpty_spark.sources import load_table

    spark = get_session("dumpty-spark-pipeline-bench")
    dfs = {t: load_table(spark, sf_dir, t) for t in tables}
    # warm the JVM/readers so the timing measures the pipeline, not startup
    for df in dfs.values():
        df.limit(1).collect()

    with tempfile.TemporaryDirectory() as tmp:
        cfg = PipelineConfig(
            sink_dir=os.path.join(tmp, "out"),
            sink_format="json",  # the reference's NDJSON-gzip landing format
            workers=8,
            pk_by_table={"customer": "c_custkey", "orders": "o_orderkey"},
            fastcount=True,
            source_dir=sf_dir,
        )
        mark = last_job_id(spark)
        t0 = time.perf_counter()
        with StateStore(os.path.join(tmp, "state")) as store:
            summary = run_pipeline(spark, dfs, cfg, store)
        elapsed = time.perf_counter() - t0
        jobs = last_job_id(spark) - mark

    rows = summary["total_rows"]
    out = {
        "metric": "pipeline_rows_per_sec",
        "value": round(rows / elapsed, 1) if elapsed else 0.0,
        "unit": "rows/sec",
        "rows": rows,
        "wall_sec": round(elapsed, 2),
        "n_tables": len(tables),
        "jobs_per_table": round(jobs / len(tables), 2),
        "sink_format": "ndjson-gzip",
        "all_consistent": summary.get("all_consistent"),
        "sf_dir": sf_dir,
    }
    with open(os.path.join(REPO, "PIPELINE_BENCH.json"), "w") as fh:
        fh.write(json.dumps(out) + "\n")
    print(json.dumps(out))
    return 0 if summary.get("n_errors", 1) == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
