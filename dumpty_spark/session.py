"""SparkSession construction with pinned, scale-aware configuration.

The reference builds its session at src/dumpty/pipeline.py:154-163 from a
user-supplied conf dict (master local[n]); its production conf
(config.yaml.example:13-40) pins a session timezone, JSON null handling,
task retries and memory fractions. We keep the spirit — one well-configured
session, every knob explicit — but default to the settings a 100 TB
cluster job would want: AQE on (runtime partition coalescing + skew-join
handling), Arrow transfers for the Pandas-UDF paths, shuffle partitions
sized to the machine rather than Spark's legacy 200.

For DuckDB-oracle comparison the session timezone must be UTC (DuckDB
timestamps are UTC-naive); the reference's America/Los_Angeles pin
(config.yaml.example:25) is preserved as an option for NDJSON parity runs.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# Confs every job gets. Values chosen for local[n] testing but each one is
# the same knob you would set on a 1000-executor cluster (where
# shuffle.partitions scales to ~2-3x total cores and maxPartitionBytes
# keeps scan tasks ~128MB).
DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # keep nulls in JSON output — reference parity (config.yaml.example:26)
    "spark.sql.jsonGenerator.ignoreNullFields": "false",
    # scan parallelism: one ~128MB task per input split
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # small-dim joins should broadcast; 64MB is generous for dims like
    # region/nation/supplier even at sf1000
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    # the events fixture stores TIMESTAMP(NANOS) which Spark's reader rejects;
    # read as long and convert (sources/parquet.py) — DuckDB equally truncates
    # nanos to micros, so both engines see identical values
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # Generated-code cache (static: only the session builder can set it).
    # Spark's default holds 100 classes. One seed-shuffled query_mix pass
    # needs about 200, so at 100 every warm pass recompiled 118-163 of
    # them (0.7-1.2 s of Janino compile at sf0.01 on 4 vCPU, plus the
    # JIT warm-up the fresh classes lose); at 2000 it compiles none. One
    # pass over all 355 registry queries at sf0.01 needs more: 5,485
    # distinct classes, so a session that wide still recompiles some.
    # After that pass (3 GB heap) the JVM held Metaspace 206 MB and RSS
    # 3.8 GB at 100 (8,746 compiles), 221 MB and 4.0 GB at 2000 (5,882).
    "spark.sql.codegen.cache.maxEntries": "2000",
    # Python-worker daemon (dumpty_spark/python_daemon.py) that makes a
    # worker task pay only for its own work: numpy/pandas/pyarrow are
    # PRELOADED before fork (fresh workers inherit them copy-on-write
    # instead of each paying the ~1-2s import), that heap is frozen out
    # of the per-task gc.collect() (16-35 ms a task), and on Python < 3.13
    # an archive's zip directory is re-read only when the archive
    # changed (0.13 s a task). Env-overridable; an EMPTY
    # SPARK_GRAFT_PY_DAEMON selects the stock daemon explicitly
    # (PythonWorkerFactory uses the conf value verbatim, so '' would
    # launch `python -m ''` and break every Python-worker stage —
    # ADVICE r11 #1).
    "spark.python.daemon.module": (
        os.environ.get("SPARK_GRAFT_PY_DAEMON", "dumpty_spark.python_daemon")
        or "pyspark.daemon"
    ),
    # FileOutputCommitter v2 (r11 optimization, guide §6/§5-driver): task
    # commit moves files straight to the destination instead of leaving
    # them for a SEQUENTIAL driver-side rename pass at job commit. Job
    # commit goes from O(files) driver renames to O(1); measured here a
    # 16-file parquet write drops ~40% (2.7-5.8s -> 1.9-3.2s at 32
    # parts, 0.6-0.9s -> 0.3-0.4s single-file). On a real cluster
    # writing thousands of files per job — especially to object stores
    # where rename is copy — this is the standard production setting
    # (long the default on EMR). Trade-off: a failed task's partial
    # files are cleaned by attempt-id naming rather than directory
    # atomicity; Spark's own retry semantics already assume this.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": os.environ.get(
        "SPARK_GRAFT_COMMITTER_ALGO", "2"
    ),
    # bucketed-table metastore location (write_bucketed/bucketed tables);
    # keep it out of the source tree — on a cluster this is the real
    # warehouse path
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/dumpty_spark_warehouse"
    ),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def warehouse_scratch(spark: SparkSession, tag: str) -> str:
    """A per-call scratch directory under ``spark.sql.warehouse.dir``.

    Every at-rest store a registered query builds must live on the
    engine's durable SHARED location — the warehouse root, which on a
    real deployment is cluster-visible storage (HDFS/object store) —
    never a driver-local tempdir, which only happens to work in
    local[n] because driver and executors share a filesystem. Caller
    removes the directory in a ``finally`` after materializing any
    result that reads from it — via :func:`scratch_cleanup`, which
    deletes through the Hadoop FileSystem API and therefore works for
    ANY warehouse URI (hdfs://, s3a://, file:). ``shutil.rmtree`` is an
    acceptable substitute only on local-filesystem warehouses (the
    test/bench configuration): on a remote URI it silently no-ops.
    """
    import uuid

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for scheme in ("file://", "file:"):
        if wh.startswith(scheme):
            wh = wh[len(scheme):]
            break
    return f"{wh.rstrip('/')}/_{tag}_scratch_{uuid.uuid4().hex}"


def scratch_cleanup(spark: SparkSession, path: str) -> None:
    """Recursively delete a :func:`warehouse_scratch` directory through
    the Hadoop FileSystem API, so the cleanup contract holds for any
    warehouse URI (hdfs://, s3a://, gs-compatible, file:) — not just
    local POSIX paths the way ``shutil.rmtree`` does. Missing paths are
    a no-op (mirrors ``rmtree(ignore_errors=True)``)."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jpath.getFileSystem(hconf)
    if fs.exists(jpath):
        fs.delete(jpath, True)


# (applicationId, namespace, ...) -> value, least recently used first;
# see memo.
_MEMO: dict[tuple, object] = {}
# "relation" entries kept per session. Every new sf_dir passed to
# load_table adds entries (a fleet ingestion resolves each pass from a
# fresh directory), so past this many the least recently used go; a
# dropped relation costs one footer read to load again. No other
# namespace is bounded.
_RELATION_CAP = 64
_MEMO_LOCK = threading.Lock()
_BUILDING: dict[tuple, threading.Lock] = {}  # key -> its build's lock


def memo(spark: SparkSession, key: tuple, build):
    """``build()``'s value, built once per (session, ``key``) and shared
    by every later caller. ``key`` starts with a namespace, such as
    ``("relation", sf_dir, name)`` or ``("pairs", sf_dir)``.

    Registry queries run on concurrent driver threads (run_overlapped),
    so lookup, eviction and insert hold ``_MEMO_LOCK``. ``build()`` runs
    outside it, because it starts Spark jobs and may read other entries,
    but under its key's lock, so concurrent callers of one cold key wait
    for a single build. Keyed on ``applicationId``: a new SparkSession
    never sees another session's frames, and an insert drops stale
    sessions' entries so their checkpoint blocks can be reclaimed.
    ``relation`` entries past ``_RELATION_CAP`` are dropped least
    recently used first. The first insert wins; a None value is returned
    but never cached."""
    k = (spark.sparkContext.applicationId, *key)
    with _MEMO_LOCK:
        hit = _MEMO.pop(k, None)
        if hit is not None:
            _MEMO[k] = hit  # re-inserted: now the most recently used
            return hit
        gate = _BUILDING.setdefault(k, threading.Lock())
    with gate:
        with _MEMO_LOCK:
            hit = _MEMO.get(k)
        if hit is None:
            hit = build()
        with _MEMO_LOCK:
            if _BUILDING.get(k) is gate:
                del _BUILDING[k]
            if hit is None:
                return None
            for stale in [s for s in _MEMO if s[0] != k[0]]:
                del _MEMO[stale]
            hit = _MEMO.setdefault(k, hit)
            if k[1] == "relation":
                rel = [s for s in _MEMO if s[1] == "relation"]
                for old in rel[:max(0, len(rel) - _RELATION_CAP)]:
                    del _MEMO[old]
            return hit


def forget(*prefix) -> None:
    """Drop every session's entries whose key starts with ``prefix``: a
    namespace such as ``"pairs"``, optionally followed by more key parts."""
    n = len(prefix)
    with _MEMO_LOCK:
        for k in [k for k in _MEMO if k[1:1 + n] == prefix]:
            del _MEMO[k]


def last_job_id(spark: SparkSession) -> int:
    """The newest Spark job id in the status store (-1 before any job).
    Ids are sequential, so the difference of two reads is the number of
    jobs started in between, from every thread, job group or not, and
    with the UI off."""
    jobs = _status_store(spark).jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """Generated classes compiled in this JVM so far and their total
    compile time in ms. A compile happens only on a codegen-cache miss,
    so the difference of two reads is what a stretch of work compiled.
    Read from ``CodegenMetrics`` and ``CodeGenerator``, with the UI off."""
    jvm = spark.sparkContext._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return hist.getCount(), nanos / 1e6


def jobs_after(spark: SparkSession, job_id: int) -> list[dict]:
    """Jobs with an id above ``job_id``, newest first: description and
    shuffle-write bytes."""
    store = _status_store(spark)
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= job_id:
            break
        sids = j.stageIds()
        desc = j.description()
        out.append({
            "description": desc.get() if desc.isDefined() else None,
            "shuffle_bytes": sum(
                store.lastStageAttempt(sids.apply(k)).shuffleWriteBytes()
                for k in range(sids.size())
            ),
        })
    return out


def _status_store(spark: SparkSession):
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore()


def get_session(
    app_name: str = "dumpty_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the core count locally; on a real
    cluster pass ~2-3x total executor cores (AQE coalesces the excess).
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        # Driver heap sized to the WORKLOAD, committed up front (r11
        # optimization, guide §5): the previous 32g lazy heap let G1
        # evacuate into never-touched regions for the whole session, and
        # on lazily-paged VM hosts every such first touch is a slow
        # guest fault — measured here as 45% SYSTEM CPU and 16s GC
        # pauses on a query whose live set is a few hundred MB
        # (q_ann_composed_retrieval: 81-163s wall; with a pre-touched
        # heap: 9-17s, GC 0.5s, sys 3%). AlwaysPreTouch faults the
        # whole heap once at startup (seconds, paid once per session) so
        # steady state never depends on host fault latency — the
        # standard production setting for latency-sensitive JVMs. Both
        # knobs stay env-overridable for hosts/workloads that want the
        # big-heap configuration.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+AlwaysPreTouch"),
        )
    )
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
