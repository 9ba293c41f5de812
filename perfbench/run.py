#!/usr/bin/env python3
"""End-to-end benchmark for dumpty_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see README.md next to this file):
``ingest_jdbc_bulk``, ``ingest_many_tables``, ``query_mix``. Each run starts
one Spark session (``local[nproc]``), builds its inputs from ``--seed``,
runs one untimed warm-up pass, then closed-loop passes until ``--seconds``
of pass time is measured. Every pass's output is checked outside the
timing. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``; the per-layer metrics with ``--trace 1``, where passes
alternate untraced and traced and the spans and the per-layer table are
written under ``.perfbench_work/traces/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

SCALES = {
    "ingest_jdbc_bulk": {"sf": 0.03, "rows_per_partition": 15_000},
    "ingest_many_tables": {"sf": 0.01, "tables": 16},
    "query_mix": {"sf": 0.01},
}
# a few seconds per workload, for the benchmark's own tests
SMOKE_SCALES = {
    "ingest_jdbc_bulk": {"sf": 0.001, "rows_per_partition": 2_000},
    "ingest_many_tables": {"sf": 0.001, "tables": 4},
    "query_mix": {"sf": 0.001},
}
HEAP = "2g"
# untimed passes before timing starts: the first fills the JIT, the Python
# workers and the session caches; the second still runs 10-40% slower than
# the ones after it, and a run times only two to five passes
WARMUP_PASSES = 2
END_TO_END = {"setup_s": "s", "rows_per_s": "1/s", "ok_ratio": "ratio", "peak_rss_mb": "MB"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SCALES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the tests")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="damage one expected answer, to show the check fails")
    return p.parse_args(argv)


def configure_env(work: str, cpus: int) -> None:
    """Keep every file Spark, Derby and the JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        # the package default (12g) would hold most of a small host; these
        # inputs need far less. The whole heap is committed and touched at
        # start (-Xms), as the package's AlwaysPreTouch intends, so
        # peak_rss_mb does not move with when G1 happens to grow the heap.
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_GRAFT_DRIVER_JAVA_OPTS=(
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"
        ),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )


class RssPeak:
    """Peak resident memory (VmHWM) of this process and every process it
    started (the JVM, the Python worker daemon and its workers), summed
    over processes. Sampled after setup and after each pass."""

    def __init__(self):
        self.hwm_kb: dict[int, int] = {}

    def sample(self) -> None:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        me = os.getpid()
        for pid in parent:
            p = pid
            while p not in (me, 0, 1) and p in parent:
                p = parent[p]
            if p != me:
                continue
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
            except (OSError, StopIteration):
                continue
            self.hwm_kb[pid] = max(kb, self.hwm_kb.get(pid, 0))

    def mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str, cpus: int) -> dict:
    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    scale = (SMOKE_SCALES if args.smoke else SCALES)[args.workload]
    rss = RssPeak()
    t0 = time.perf_counter()
    from dumpty_spark.session import get_session

    spark = get_session("perfbench")
    try:
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed, cpus, scale)
        wl.setup()
        if args.corrupt_expected:
            wl.corrupt_expected()
        warm = [wl.run_pass(i) for i in range(WARMUP_PASSES)]
        setup_s = time.perf_counter() - t0
        attempted = sum(r.attempted for r in warm)
        failed = sum(wl.check(r) for r in warm)
        rss.sample()
        print(f"perfbench: {args.workload} seed {args.seed}: session {session_s:.3f} s, setup {setup_s:.3f} s (warm-up passes "
              f"{', '.join(f'{r.wall_s:.3f}' for r in warm)} s)", file=sys.stderr)

        tracer = Tracer(spark) if args.trace else None
        timed, traced, untraced_s = [], [], []
        i = WARMUP_PASSES - 1
        while sum(r.wall_s for r in timed) < args.seconds or (tracer and not traced):
            i += 1
            trace_this = tracer is not None and (i - WARMUP_PASSES) % 2 == 1
            if trace_this:
                last_job = tracer.last_job_id()
                layers.install(tracer)
                wl.tracer = tracer
            try:
                res = wl.run_pass(i)
            finally:
                if trace_this:
                    tracer.uninstall()
                    wl.tracer = None
            if trace_this:
                traced.append((res, tracer.take_spans(), tracer.read_jobs(last_job)))
            else:
                untraced_s.append(res.wall_s)
            attempted += res.attempted
            failed += wl.check(res)
            rss.sample()
            timed.append(res)
            print(f"perfbench: pass {i} {'traced ' if trace_this else ''}{res.wall_s:.3f} s, "
                  f"{res.rows} rows", file=sys.stderr)

        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "rows_per_s": statistics.median(r.rows / r.wall_s for r in timed),
                "ok_ratio": 1.0 - failed / attempted,
                "peak_rss_mb": rss.mb(),
            }
            units = END_TO_END
        else:
            metrics, units = traced_metrics(args, wl, traced, untraced_s, session_s)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        stop_spark(spark)


def traced_metrics(args, wl, traced, untraced_s, session_s):
    from perfbench import layers

    queries = layers.ALL_QUERIES
    per_pass = [
        layers.per_layer(res, spans, jobs, queries, wl.storage_held)
        for res, spans, jobs in traced
    ]
    metrics = {k: statistics.fmean(p[k] for p in per_pass) for k in per_pass[0]}
    traced_ms = statistics.median(r.wall_s for r, _, _ in traced) * 1e3
    untraced_ms = statistics.median(untraced_s) * 1e3
    metrics.update({
        "session.start_s": session_s,
        "trace.pass_ms": traced_ms,
        "trace.untraced_pass_ms": untraced_ms,
        "trace.overhead_ms": traced_ms - untraced_ms,
    })
    out_dir = os.path.join(WORK_ROOT, "traces")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-{args.seed}")
    with open(stem + ".json", "w") as f:
        json.dump([{"wall_s": r.wall_s, "spans": [vars(s) for s in spans],
                    "jobs": [vars(j) for j in jobs]} for r, spans, jobs in traced], f)
    table = layers.layer_table(traced, untraced_s, session_s, args.workload, args.seed)
    with open(stem + ".md", "w") as f:
        f.write(table)
    print(table, file=sys.stderr)
    return metrics, {k: layers.unit(k) for k in metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import dumpty_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work, cpus)
    try:
        result = run(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
