"""JDBC scans (SURVEY §2.1 S1-S5) — the reference's extraction shapes,
parameterized by a PartitionPlan, plus the catalog and change-tracking
queries.

Metadata SQL (introspection, the catalog list, the change log and the
julienne boundary query) runs on the driver over one JDBC connection and
starts no Spark job, as the reference runs it from its host
(pipeline.py:328-339); only table rows go through ``scan``. ``scanned``
reads a scan's source and plan back off the frame, so a caller handed a
frame can introspect its source and record the plan it runs.

The full introspect → plan → scan → sink loop is exercised END-TO-END
against an embedded Apache Derby database (ships on the Spark classpath)
in tests/test_jdbc_e2e.py: live cursors, all three scan strategies, the
catalog list (S4), and the change-tracking query (S5). The option
surface mirrors the production knobs the reference pins: fetchsize
(config.yaml.example:52) and dirty-read isolation via
sessionInitStatement (config.yaml.example:45).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from py4j.java_gateway import JavaObject
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dumpty_spark.plans.planner import PartitionPlan, TableStats
from dumpty_spark.session import jvm, memo

DEFAULT_FETCHSIZE = 2000  # reference config.yaml.example:52
DIRTY_READ = "SET TRANSACTION ISOLATION LEVEL READ UNCOMMITTED"

# java.sql.Types codes: the ones Spark reads as a NumericType (TINYINT,
# SMALLINT, INTEGER, BIGINT, FLOAT, REAL, DOUBLE, NUMERIC, DECIMAL), and
# the two it converts from java.sql objects
_NUMERIC_TYPES = frozenset({-6, 5, 4, -5, 6, 7, 8, 2, 3})
_DATE, _TIMESTAMP = 91, 93


@dataclass
class JdbcSource:
    url: str
    table: str
    properties: dict[str, str] = field(default_factory=dict)
    fetchsize: int = DEFAULT_FETCHSIZE
    dirty_read: bool = True

    def options(self) -> dict[str, Any]:
        opts: dict[str, Any] = {
            "url": self.url,
            "dbtable": self.table,
            "fetchsize": str(self.fetchsize),
            **self.properties,
        }
        if self.dirty_read:
            # don't lock the source: READ UNCOMMITTED, like the reference
            opts["sessionInitStatement"] = DIRTY_READ
        return opts


def scan_options(src: JdbcSource, plan: PartitionPlan) -> dict[str, Any]:
    """Resolve a PartitionPlan into spark.read.format('jdbc') options:
    bounds → partitionColumn/lowerBound/upperBound/numPartitions (S1);
    single → plain scan (S3). The predicates path (S2) must go through
    ``scan`` (the predicates list isn't an option string)."""
    opts = src.options()
    if plan.strategy == "bounds":
        opts.update(
            partitionColumn=plan.column,
            lowerBound=str(plan.lower),
            upperBound=str(plan.upper),
            numPartitions=str(plan.partitions),
        )
    return opts


def scan(spark: SparkSession, src: JdbcSource, plan: PartitionPlan) -> DataFrame:
    """Execute the planned scan. One Spark task per range/predicate, each
    opening its own JDBC cursor — the reference's parallel extract
    (pipeline.py:424-459) expressed through the identical public API."""
    if plan.strategy == "predicates":
        return spark.read.jdbc(
            url=src.url,
            table=src.table,
            predicates=plan.predicates,
            properties={k: str(v) for k, v in src.options().items() if k not in ("url", "dbtable")},
        )
    reader = spark.read.format("jdbc")
    for k, v in scan_options(src, plan).items():
        reader = reader.option(k, v)
    return reader.load()


# options ``scan`` sets from the source and the plan, not from properties
_SCAN_KEYS = frozenset({
    "url", "dbtable", "query", "fetchsize",
    "partitioncolumn", "lowerbound", "upperbound", "numpartitions",
})


def scanned(df: DataFrame) -> tuple[JdbcSource, PartitionPlan] | None:
    """The inverse of ``scan``: the source and plan a bare JDBC scan
    reads, taken off its analyzed plan (``JDBCRelation.jdbcOptions()`` and
    ``parts()``), so the plan is the one the scan runs — its slice count
    and where-clauses. A frame with anything on top of the relation (a
    filter, a projection) may not read what its source holds, so it
    gives None, as does any frame that is not a JDBC scan. A predicates
    plan comes back without its column and boundaries, which the scan
    does not keep.

    Every py4j call is a round trip, so the node classes are checked
    with one ``isInstance`` each, and the options and the slices come
    back as one JSON string each (``_to_python``)."""
    spark = df.sparkSession
    node = df._jdf.queryExecution().analyzed()
    if not _is_a(spark, node, "org.apache.spark.sql.execution.datasources.LogicalRelation"):
        return None
    rel = node.relation()
    if not _is_a(spark, rel, "org.apache.spark.sql.execution.datasources.jdbc.JDBCRelation"):
        return None
    jopts = rel.jdbcOptions()
    props = _to_python(spark, jopts.asProperties())  # keys in their case
    opt = {k.lower(): v for k, v in props.items()}
    dirty = opt.get("sessioninitstatement") == DIRTY_READ
    skip = _SCAN_KEYS | ({"sessioninitstatement"} if dirty else set())
    src = JdbcSource(
        url=opt["url"],
        table=jopts.tableOrQuery(),
        properties={k: v for k, v in props.items() if k.lower() not in skip},
        fetchsize=int(opt.get("fetchsize", 0)),
        dirty_read=dirty,
    )
    where = [p["whereClause"] for p in _to_python(spark, rel.parts())]
    if where == [None]:
        plan = PartitionPlan(strategy="single")
    elif "partitioncolumn" in opt:
        plan = PartitionPlan(
            strategy="bounds",
            partitions=len(where),
            column=opt["partitioncolumn"],
            lower=_bound(opt["lowerbound"]),
            upper=_bound(opt["upperbound"]),
        )
    else:
        plan = PartitionPlan(strategy="predicates", partitions=len(where), predicates=where)
    return src, plan


def _is_a(spark: SparkSession, obj: JavaObject, fqn: str) -> bool:
    """Whether JVM object ``obj`` is an instance of class ``fqn``, in one
    round trip on the class's ``java.lang.Class``, memoized per session."""
    cls = memo(spark, ("jvm-class", fqn), lambda: jvm(spark, fqn)._java_lang_class)
    return cls.isInstance(obj)


def _to_python(spark: SparkSession, obj: JavaObject) -> Any:
    """``obj`` as Python lists, dicts and scalars, sent as one JSON string
    written in the JVM by Spark's bundled Jackson with its Scala module (a
    case class is an object of its fields): one round trip, where py4j
    would fetch a map or an array one key or element at a time."""

    def build():
        scala = jvm(spark, "com.fasterxml.jackson.module.scala.DefaultScalaModule$", "MODULE$")
        return jvm(spark, "com.fasterxml.jackson.databind.ObjectMapper")().registerModule(scala)

    return json.loads(memo(spark, ("jvm-json",), build).writeValueAsString(obj))


def _bound(v: str) -> Any:
    """A bound option back as the int the planner gave, or as written."""
    try:
        return int(v)
    except ValueError:
        return v


def _query_source(src: JdbcSource, sql: str) -> JdbcSource:
    """A JdbcSource whose dbtable is a derived-table subquery, so the SQL
    executes INSIDE the database and only its (tiny) result crosses the
    wire."""
    return JdbcSource(
        url=src.url,
        table=f"({sql}) dumpty_q",
        properties=src.properties,
        fetchsize=src.fetchsize,
        dirty_read=src.dirty_read,
    )


def run_query(spark: SparkSession, src: JdbcSource, sql: str) -> DataFrame:
    """Run ``sql`` on the source database through one JDBC cursor and
    return the result as a one-partition DataFrame, read by a Spark job.
    Metadata-sized results the caller only collects go through
    ``_fetch`` instead, which starts no job."""
    return scan(spark, _query_source(src, sql), PartitionPlan(strategy="single"))


def _fetch(spark: SparkSession, src: JdbcSource, sql: str) -> tuple[list[int], list[tuple]]:
    """Run ``sql`` on the source database from the driver, over one JDBC
    connection opened the way Spark's scan tasks open theirs (the URL's
    dialect and connection provider, the source's options), with the
    ``sessionInitStatement`` run first when one is set. Returns the
    result's java.sql.Types column codes and its rows, with values
    converted as ``run_query(...).collect()`` gives them. Starts no
    Spark job: for metadata-sized results only."""
    opts = src.options()
    params = jvm(spark, "java.util.HashMap")()
    for k, v in opts.items():
        params.put(k, str(v))
    jopts = jvm(spark, "org.apache.spark.sql.execution.datasources.jdbc.JDBCOptions")(
        jvm(spark, "org.apache.spark.api.python.PythonUtils", "toScalaMap")(params)
    )
    dialect = jvm(spark, "org.apache.spark.sql.jdbc.JdbcDialects", "get")(src.url)
    conn = dialect.createConnectionFactory(jopts).apply(-1)
    try:
        st = conn.createStatement()
        if opts.get("sessionInitStatement"):
            st.execute(opts["sessionInitStatement"])
        rs = st.executeQuery(sql)
        md = rs.getMetaData()
        types = [md.getColumnType(i) for i in range(1, md.getColumnCount() + 1)]
        rows = []
        while rs.next():
            rows.append(tuple(_value(rs, i, t) for i, t in enumerate(types, 1)))
        return types, rows
    finally:
        conn.close()


def _value(rs, i: int, jdbc_type: int) -> Any:
    """Column ``i`` of the current row as Spark's JDBC reader and
    ``collect`` would give it. py4j already converts numbers, strings and
    decimals; dates and timestamps go through Spark's internal day and
    microsecond counts; any other Java object comes back as its
    ``toString()``."""
    if jdbc_type == _TIMESTAMP:
        ts = rs.getTimestamp(i)
        if ts is None:
            return None
        return T.TimestampType().fromInternal(ts.getTime() * 1000 + ts.getNanos() // 1000 % 1000)
    if jdbc_type == _DATE:
        d = rs.getDate(i)
        return None if d is None else T.DateType().fromInternal(d.toLocalDate().toEpochDay())
    v = rs.getObject(i)
    return v.toString() if isinstance(v, JavaObject) else v


def introspect_jdbc(spark: SparkSession, src: JdbcSource, pk: str | None) -> TableStats:
    """SURVEY A1 against a live source: COUNT/MIN/MAX as ONE SQL statement
    executed by the database (reference pipeline.py:328-339 runs exactly
    this query), sent from the driver. Returns TableStats ready for
    ``plan_partitions``; ``pk_numeric`` is the type of the MIN column in
    the result's metadata. Never pulls table rows through the wire and
    starts no Spark job."""
    if pk is None:
        _, rows = _fetch(spark, src, f"SELECT COUNT(*) FROM {src.table}")
        return TableStats(rows=rows[0][0])
    types, rows = _fetch(spark, src, f"SELECT COUNT(*), MIN({pk}), MAX({pk}) FROM {src.table}")
    n, mn, mx = rows[0]
    return TableStats(rows=n, min=mn, max=mx, pk=pk, pk_numeric=types[1] in _NUMERIC_TYPES)


# S4: catalog/table-list scan. ANSI INFORMATION_SCHEMA by default (MSSQL,
# Postgres, MySQL...); Derby predates INFORMATION_SCHEMA and exposes the
# same facts through SYS.SYSTABLES.  Both templates take {schema}.
INFORMATION_SCHEMA_TABLES = (
    "SELECT table_name FROM INFORMATION_SCHEMA.TABLES "
    "WHERE table_schema = '{schema}' AND table_type = 'BASE TABLE'"
)
DERBY_TABLES = (
    "SELECT t.tablename AS table_name FROM SYS.SYSTABLES t "
    "JOIN SYS.SYSSCHEMAS s ON t.schemaid = s.schemaid "
    "WHERE s.schemaname = '{schema}' AND t.tabletype = 'T'"
)


def list_tables(
    spark: SparkSession,
    src: JdbcSource,
    schema: str,
    query: str = INFORMATION_SCHEMA_TABLES,
) -> list[str]:
    """S4: the reference's ``inspector.get_table_names(schema)``
    (pipeline.py:577) as a catalog query on the live connection. Returns
    lowercase table names, sorted, matching the reconcile path's
    case-insensitive contract (validate.reconcile_table_lists)."""
    _, rows = _fetch(spark, src, query.format(schema=schema))
    return sorted(r[0].strip().lower() for r in rows)


# W1 boundary query templates ({pk}/{table}/{width}). ROW_NUMBER is the
# reference's exact SQL (runs on MSSQL/Postgres/MySQL 8); Derby's window
# support has no ORDER BY clause, so its template ranks with a SQL-92
# correlated count — identical result, O(n^2) server-side, test-scale
# only.
ROWNUM_JULIENNE = (
    "SELECT DISTINCT {pk} AS b FROM ("
    "SELECT {pk}, ROW_NUMBER() OVER (ORDER BY {pk}) AS rn "
    "FROM {table}) t WHERE MOD(rn, {width}) = 0"
)
DERBY_JULIENNE = (
    "SELECT DISTINCT {pk} AS b FROM ("
    "SELECT {pk}, (SELECT COUNT(*) FROM {table} t2 "
    "WHERE t2.{pk} <= t1.{pk}) AS rn "
    "FROM {table} t1 WHERE {pk} IS NOT NULL) t WHERE MOD(rn, {width}) = 0"
)


def julienne_boundaries_jdbc(
    spark: SparkSession,
    src: JdbcSource,
    pk: str,
    width: int,
    query: str = ROWNUM_JULIENNE,
) -> list:
    """W1 server-side: the reference's exact equal-frequency boundary
    query (every ``width``-th pk value by global row rank,
    pipeline.py:236-267) executed ON the source database, where its
    engine owns the sort — only the boundary list (partitions-sized)
    crosses the wire. Semantics identical to
    planner.exact_julienne_boundaries on a DataFrame; at Spark-side
    scale use planner.approx_boundaries instead."""
    _, rows = _fetch(spark, src, query.format(pk=pk, table=src.table, width=width))
    return sorted(r[0] for r in rows)


def changed_tables_jdbc(
    spark: SparkSession,
    src: JdbcSource,
    query_template: str,
    watermark: str,
) -> list[str]:
    """S5: the reference's change-tracking incremental source — a
    user-supplied change-log query with the last successful watermark
    substituted (main.py:224-233 renders ``tables_query`` with
    ``last_run``). The query must return one column of table names; the
    result feeds validate.select_incremental exactly like the filesystem
    mtime variant in cli.changed_tables."""
    _, rows = _fetch(spark, src, query_template.format(watermark=watermark))
    return sorted(r[0].strip().lower() for r in rows)
