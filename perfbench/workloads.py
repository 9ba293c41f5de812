"""The three workloads. Each has ``setup`` (untimed inputs, seeding and
expected answers), ``run_pass`` (the timed closed-loop unit of work) and
``check`` (read-back against the expected answers, outside the timing).

Calls into the package go through module attributes (``jdbc.scan``,
``pipeline.run_pipeline``...) or ``Workload.call``, so a traced run sees
them as spans.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

from perfbench import check, datagen


@dataclass
class PassResult:
    wall_s: float
    attempted: int
    rows: int  # source rows handled in the pass
    failed: int = 0  # errors seen inside the pass; check() adds read-back failures
    sink_bytes: int = 0
    summary: dict | None = None  # run_pipeline's run summary
    answers: dict = field(default_factory=dict)  # query -> result or exception
    out_dir: str | None = None


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, cpus: int, scale: dict):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.cpus = cpus
        self.scale = scale
        self.tracer = None  # set for traced passes
        self.storage_held: list[float] = []  # MB held after each traced query

    def call(self, span: str, fn, *args, label=None):
        if self.tracer is None:
            return fn(*args)
        return self.tracer.wrap(span, fn, lambda a, k: label)(*args)

    def corrupt_expected(self) -> None:
        raise NotImplementedError


# -- ingest_jdbc_bulk ---------------------------------------------------------

JDBC_TABLES = {  # table -> (primary key, Derby column DDL in source order)
    "customer": ("C_CUSTKEY", "C_CUSTKEY BIGINT, C_NAME VARCHAR(32), C_NATIONKEY INT, "
                 "C_ACCTBAL DOUBLE, C_MKTSEGMENT VARCHAR(16)"),
    "orders": ("O_ORDERKEY", "O_ORDERKEY BIGINT, O_CUSTKEY BIGINT, O_ORDERSTATUS VARCHAR(1), "
               "O_TOTALPRICE DOUBLE, O_ORDERDATE TIMESTAMP, O_ORDERPRIORITY VARCHAR(16)"),
    "lineitem": ("L_ORDERKEY", "L_ORDERKEY BIGINT, L_PARTKEY BIGINT, L_SUPPKEY BIGINT, "
                 "L_LINENUMBER INT, L_QUANTITY DOUBLE, L_EXTENDEDPRICE DOUBLE, L_DISCOUNT DOUBLE, "
                 "L_TAX DOUBLE, L_RETURNFLAG VARCHAR(1), L_LINESTATUS VARCHAR(1), "
                 "L_SHIPDATE TIMESTAMP"),
    # VALUE is reserved in Derby
    "events": ("EVENT_ID", "EVENT_ID BIGINT, TS TIMESTAMP, USER_ID BIGINT, EVENT_TYPE VARCHAR(16), "
               "EVENT_VALUE DOUBLE, PROPS VARCHAR(32)"),
}


class IngestJdbcBulk(Workload):
    """A few large tables over live JDBC (embedded Derby) to NDJSON-gzip."""

    name = "ingest_jdbc_bulk"

    def setup(self) -> None:
        from dumpty_spark.sources import jdbc

        tables = datagen.gen_tables(self.scale["sf"], self.seed)
        rng = np.random.default_rng(self.seed)
        db = os.path.join(self.work, "derby")
        self.url = f"jdbc:derby:{db}"
        conn = self.spark.sparkContext._jvm.java.sql.DriverManager.getConnection(
            self.url + ";create=true"
        )
        self.expected: dict[str, check.Digest] = {}
        try:
            st = conn.createStatement()
            for name, (_, ddl) in JDBC_TABLES.items():
                t = tables[name]
                t = t.rename_columns([c.split()[0].lower() for c in ddl.split(", ")])
                # the seed sets the insert order
                t = t.take(pa.array(rng.permutation(t.num_rows)))
                self.expected[name] = check.digest(t, ts_unit="s")  # the sink keeps seconds
                csv = os.path.join(self.work, f"{name}.csv")
                pacsv.write_csv(t, csv, pacsv.WriteOptions(include_header=False))
                st.execute(f"CREATE TABLE {name} ({ddl})")
                call = conn.prepareCall(
                    "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, ?, ?, NULL, NULL, NULL, 0)"
                )
                call.setString(1, name.upper())
                call.setString(2, csv)
                call.execute()
                os.remove(csv)
            st.close()
        finally:
            conn.close()
        self.sources = {
            name: jdbc.JdbcSource(url=self.url, table=name, dirty_read=False)
            for name in JDBC_TABLES
        }
        self.rows = sum(d.rows for d in self.expected.values())

    def run_pass(self, i: int) -> PassResult:
        from dumpty_spark import pipeline
        from dumpty_spark.plans import planner
        from dumpty_spark.plans.state import StateStore
        from dumpty_spark.sources import jdbc

        out = os.path.join(self.work, f"pass{i}")
        rpp = self.scale["rows_per_partition"]
        pk_by_table = {name: pk for name, (pk, _) in JDBC_TABLES.items()}
        t0 = time.perf_counter()
        frames = {}
        for name, src in self.sources.items():
            stats = self.call("sources.jdbc.introspect", jdbc.introspect_jdbc,
                              self.spark, src, pk_by_table[name], label=name)
            try:
                plan = planner.plan_partitions(stats, rpp)
            except ValueError:
                # no dense key: Derby cannot rank server-side (its
                # julienne template is O(n^2)), so one cursor
                plan = planner.PartitionPlan(strategy="single")
            frames[name] = self.call("sources.jdbc.scan", jdbc.scan, self.spark, src, plan,
                                     label=name)
        cfg = pipeline.PipelineConfig(
            sink_dir=os.path.join(out, "sink"),
            sink_format="json",
            rows_per_partition=rpp,
            workers=self.cpus,
            pk_by_table=pk_by_table,
        )
        summary = self.call("pipeline.run", pipeline.run_pipeline, self.spark, frames, cfg,
                            StateStore(os.path.join(out, "state")))
        wall = time.perf_counter() - t0
        return _ingest_result(wall, summary, out)

    def check(self, res: PassResult) -> int:
        return _check_sinks(res, self.expected, check.read_ndjson_sink, ts_unit="s")

    def corrupt_expected(self) -> None:
        name = next(iter(self.expected))
        d = self.expected[name]
        self.expected[name] = check.Digest(d.rows, d.hash ^ 1)


# -- ingest_many_tables -------------------------------------------------------

MANY_SOURCES = {"customer": "c_custkey", "orders": "o_orderkey",
                "lineitem": "l_orderkey", "events": "event_id"}


class IngestManyTables(Workload):
    """Many small parquet tables: per-table fixed cost dominates."""

    name = "ingest_many_tables"

    def setup(self) -> None:
        tables = datagen.gen_tables(self.scale["sf"], self.seed)
        rng = np.random.default_rng(self.seed)
        n = self.scale["tables"]
        largest = min(tables[s].num_rows for s in MANY_SOURCES if s != "customer")
        # fixed sizes, log-spaced so most tables are tiny; the seed draws
        # which table gets which size, its source and its offset
        sizes = rng.permutation(np.unique(np.geomspace(10, largest, n).round().astype(int)))
        self.src_dir = os.path.join(self.work, "tables")
        os.makedirs(self.src_dir)
        self.expected: dict[str, check.Digest] = {}
        self.pk_by_table: dict[str, str] = {}
        for k, size in enumerate(sizes):
            eligible = [s for s in MANY_SOURCES if tables[s].num_rows >= size]
            src = eligible[int(rng.integers(0, len(eligible)))]
            offset = int(rng.integers(0, tables[src].num_rows - size + 1))
            name = f"t{k:03d}_{src}"
            piece = tables[src].slice(offset, int(size))
            datagen.write_tables({name: piece}, self.src_dir)
            self.expected[name] = check.digest(piece)
            self.pk_by_table[name] = MANY_SOURCES[src]
        self.rows = sum(d.rows for d in self.expected.values())

    def run_pass(self, i: int) -> PassResult:
        from dumpty_spark import pipeline
        from dumpty_spark.plans.state import StateStore
        from dumpty_spark.sources import parquet

        out = os.path.join(self.work, f"pass{i}")
        # a fresh directory of hard links per pass: every table resolves
        # cold, as in a new CLI run
        src = os.path.join(out, "src")
        os.makedirs(src)
        for f in os.listdir(self.src_dir):
            os.link(os.path.join(self.src_dir, f), os.path.join(src, f))
        t0 = time.perf_counter()
        frames = {name: parquet.load_table(self.spark, src, name) for name in self.expected}
        cfg = pipeline.PipelineConfig(
            sink_dir=os.path.join(out, "sink"),
            sink_format="parquet",
            workers=self.cpus,
            pk_by_table=self.pk_by_table,
            fastcount=True,
            source_dir=src,
        )
        summary = self.call("pipeline.run", pipeline.run_pipeline, self.spark, frames, cfg,
                            StateStore(os.path.join(out, "state")))
        wall = time.perf_counter() - t0
        return _ingest_result(wall, summary, out)

    def check(self, res: PassResult) -> int:
        return _check_sinks(res, self.expected, check.read_parquet_sink, ts_unit="us")

    def corrupt_expected(self) -> None:
        name = next(iter(self.expected))
        d = self.expected[name]
        self.expected[name] = check.Digest(d.rows + 1, d.hash)


def _ingest_result(wall: float, summary: dict, out: str) -> PassResult:
    ok = [t for t in summary["tables"].values() if t["consistent"]]
    return PassResult(
        wall_s=wall,
        attempted=summary["n_tables"],
        rows=sum(t["rows_loaded"] for t in ok),
        failed=summary["n_errors"],
        sink_bytes=summary["total_bytes"],
        summary=summary,
        out_dir=out,
    )


def _check_sinks(res: PassResult, expected: dict, read, ts_unit: str) -> int:
    """Failed tables: a pipeline error, or a sink whose rows or content
    differ from the source."""
    failed = res.failed
    for name, want in expected.items():
        if name in res.summary["errors"]:
            continue
        got = check.digest(read(os.path.join(res.out_dir, "sink", name)), ts_unit)
        failed += got != want
    shutil.rmtree(res.out_dir, ignore_errors=True)
    return failed


# -- query_mix ----------------------------------------------------------------

RELATIONAL = (
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier_volume",
    "q21_waiting_suppliers", "q_window_rank_per_segment", "q_session_windows",
)
# q_minhash_lsh_pairs, q_simhash_pairs and q_image_decode are left out to
# keep a run inside the time a full benchmark round allows (README.md)
LLM_OPS = ("q_dedup_embedding", "q_ann_ivf_topk", "q_fingerprints")
FAMILIES = {"relational": RELATIONAL, "llm_ops": LLM_OPS}
# tables each query reads, for rows_per_s
QUERY_INPUTS = {
    "q01_pricing_summary": ("lineitem",),
    "q03_shipping_priority": ("customer", "orders", "lineitem"),
    "q05_local_supplier_volume": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    "q21_waiting_suppliers": ("lineitem", "orders", "supplier", "nation"),
    "q_window_rank_per_segment": ("customer",),
    "q_session_windows": ("events",),
    "q_dedup_embedding": ("embeddings",),
    "q_ann_ivf_topk": ("embeddings",),
    "q_fingerprints": ("documents",),
}


class QueryMix(Workload):
    """Registry queries in a seed-shuffled order, each result collected."""

    name = "query_mix"

    def setup(self) -> None:
        from dumpty_spark.queries import REGISTRY

        self.queries = list(RELATIONAL + LLM_OPS)
        tables = datagen.gen_tables(self.scale["sf"], self.seed)
        self.data_dir = os.path.join(self.work, "tables")
        datagen.write_tables(tables, self.data_dir)
        self.expected = check.duckdb_answers(
            {q: REGISTRY[q].oracle for q in self.queries}, self.data_dir, list(tables)
        )
        self.rows = sum(tables[t].num_rows for q in self.queries for t in QUERY_INPUTS[q])
        self.fns = {q: REGISTRY[q].fn for q in self.queries}

    def run_pass(self, i: int) -> PassResult:
        order = list(self.queries)
        np.random.default_rng([self.seed, i]).shuffle(order)
        res = PassResult(wall_s=0.0, attempted=len(order), rows=self.rows)
        t0 = time.perf_counter()
        for q in order:
            try:
                res.answers[q] = self.call(f"queries.{q}", self._collect, q, label=q)
            except Exception as e:  # a failing query counts, the mix goes on
                res.answers[q] = e
            if self.tracer is not None:
                self.storage_held.append(self.tracer.storage_held_mb())
        res.wall_s = time.perf_counter() - t0
        return res

    def _collect(self, q: str):
        return self.fns[q](self.spark, self.data_dir).toPandas()

    def check(self, res: PassResult) -> int:
        return sum(
            isinstance(a, Exception) or check.canon_rows(a) != self.expected[q]
            for q, a in res.answers.items()
        )

    def corrupt_expected(self) -> None:
        q = self.queries[0]
        cols, rows = self.expected[q]
        self.expected[q] = (cols, rows[1:] + [tuple("corrupt" for _ in cols)])


WORKLOADS = {w.name: w for w in (IngestJdbcBulk, IngestManyTables, QueryMix)}
