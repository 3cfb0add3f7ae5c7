"""Federation providers and SQL executors.

Mirrors the reference's core traits:

- ``FederationProvider`` (reference datafusion-federation/src/lib.rs:56-68):
  identity = (name, compute_context) — two same-named engines with different
  contexts must NOT merge (warning at examples/shared/mod.rs:46-50).
- ``SQLExecutor`` (src/sql/executor.rs:19-75): the remote-engine contract —
  name, compute_context, dialect, execute(sql, schema), table_names,
  get_table_schema, optional ast_analyzer / statistics / metrics hooks.

Concrete executors:

- ``DuckDBExecutor`` — in-process analytic engine over parquet/CSV; returns
  Arrow and enters Spark zero-copy via ``spark.createDataFrame``.
- ``JDBCExecutor`` — any JDBC database via Spark's JDBC source with the
  query pushed down (``option("query", sql)``); supports partitioned reads
  (partitionColumn/lowerBound/upperBound/numPartitions) — a deliberate
  scale improvement over the reference's single-partition remote results
  (src/sql/mod.rs:177).
- ``SparkSQLExecutor`` — a second SparkSession as the remote engine.
"""

from __future__ import annotations

import time
from collections import OrderedDict
from contextlib import suppress
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional, Sequence

from ..dialects import get_dialect


#: bound of a compiler's inferred schemas and an executor's row counts
CACHE_MAX = 1024


class LRU(OrderedDict):
    """Dict of at most CACHE_MAX entries, evicting the least recent; a
    clear() from another thread makes a miss, never a KeyError."""

    def get(self, key, default=None):
        try:
            self.move_to_end(key)
            return self[key]
        except KeyError:
            return default

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        with suppress(KeyError):
            self.move_to_end(key)
            if len(self) > CACHE_MAX:
                self.popitem(last=False)


class SchemaCache(LRU):
    """Inferred schemas keyed ``(executor, schema_infer.plan_shape(plan))``:
    executors hash by identity, so same-named databases never share one,
    and claimed plans differing only in predicate literals share one
    entry. Counts failures."""

    failures = 0
    last_failure: Optional[str] = None


def empty_dataframe(spark, schema):
    """Zero-row DataFrame with `schema` as a pure-JVM LocalTableScan.

    ``spark.createDataFrame([], schema)`` builds a pickled-RDD-backed
    frame whose very first collect launches one Python worker per core
    (32 cold workers ~= 2.7 s measured) just to deserialize empty
    partitions. Empty federated results are common (EXCEPT queries,
    selective filters), so synthesize the frame in SQL instead: a
    zero-row LocalTableScan collects with no job at all."""
    cols = ", ".join(
        "CAST(NULL AS {}) AS `{}`".format(
            f.dataType.simpleString(), f.name.replace("`", "``"))
        for f in schema.fields)
    return spark.sql(f"SELECT {cols} WHERE 1 = 0")


def arrow_to_spark(spark, arrow, schema=None):
    """Arrow result table -> Spark DataFrame (shared by every executor
    that speaks Arrow on the wire). Non-empty results enter in native
    Arrow types — the caller's schema-cast projection coerces them
    (SchemaCastScanExec posture); a zero-row result takes the expected
    schema since nothing can be inferred from an empty frame."""
    if arrow.num_rows == 0 and schema is not None:
        return empty_dataframe(spark, schema)
    try:
        # Spark 4: Arrow table -> DataFrame directly (no pandas hop)
        return spark.createDataFrame(arrow)
    except Exception:
        return spark.createDataFrame(arrow.to_pandas())


class FederationProvider:
    """Identity + self-determined optimizer (reference src/lib.rs:56-90)."""

    def __init__(self, name: str, compute_context: Optional[str] = None):
        self.name = name
        self.compute_context = compute_context

    # identity: (name, compute_context) — src/lib.rs:76-90
    def __eq__(self, other):
        return (isinstance(other, FederationProvider)
                and self.name == other.name
                and self.compute_context == other.compute_context)

    def __hash__(self):
        return hash((self.name, self.compute_context))

    def __repr__(self):
        return f"<provider {self.name}@{self.compute_context}>"

    def can_federate(self) -> bool:
        """Whether this provider has an optimizer at all
        (FederationProvider::optimizer() returning Some)."""
        return False

    def claim(self, plan):
        """Hand this provider a single-provider subtree; it returns the
        federated replacement (SQLFederationOptimizerRule analog,
        src/sql/mod.rs:78-130 — the SQL provider claims everything)."""
        raise NotImplementedError


class LocalSparkProvider(FederationProvider):
    """Placeholder provider for native Spark tables so the lattice logic is
    uniform (NopFederationProvider analog, src/optimizer/mod.rs:310-338)."""

    def __init__(self):
        super().__init__("__spark_local__", None)

    def can_federate(self) -> bool:
        return False


class SQLExecutor:
    """Remote engine contract (reference src/sql/executor.rs:19-75)."""

    name: str = "sql"
    compute_context: Optional[str] = None
    dialect: str = "ansi"

    # -- required ----------------------------------------------------------
    def execute(self, spark, sql: str, schema=None):
        """Run `sql` remotely; return a Spark DataFrame."""
        raise NotImplementedError

    def table_names(self) -> List[str]:
        raise NotImplementedError

    def get_table_schema(self, spark, table_name: str):
        """Introspect a remote table's Spark schema (the reference's mock
        infers by `select * from t limit 1` — examples/shared/mod.rs:74-79).
        """
        raise NotImplementedError

    # -- optional hooks (src/sql/executor.rs:14-16,61-74) -------------------
    ast_analyzer: Optional[Callable[[str], str]] = None

    def apply_runtime_filters(self, sql: str,
                              filters: Sequence[str]) -> str:
        """Inline runtime filter predicates accepted from the parent plan
        (VirtualExecutionPlan filter pushdown, reference
        src/sql/mod.rs:416-444). The contract allows ignoring them
        (src/sql/executor.rs:45-56); the default wraps the query so the
        remote engine's own optimizer pushes them down."""
        if not filters:
            return sql
        preds = " AND ".join(f"({f})" for f in filters)
        return f"SELECT * FROM ({sql}) AS __rf WHERE {preds}"

    def insert(self, spark, df, table_ref, mode: str = "append"):
        """INSERT INTO passthrough (reference delegates to the fallback
        provider, src/table_provider.rs:126-139)."""
        raise NotImplementedError(
            f"{type(self).__name__} does not support INSERT passthrough")

    def execute_statement(self, spark, sql: str) -> Optional[int]:
        """Run a DML statement (INSERT ... SELECT) ENTIRELY on the
        remote engine — no data through Spark (r12, VERDICT r11 Next
        #6: the federated write-back path). Returns the affected row
        count when the engine reports one."""
        raise NotImplementedError(
            f"{type(self).__name__} does not support remote DML "
            f"statements — use engine.insert_into (DataFrame "
            f"passthrough) instead")

    def statistics(self, sql: str) -> Optional[int]:
        """Estimated row count for a federated query (default unknown)."""
        return None

    @property
    def _metrics(self) -> Dict[str, Any]:
        # per-INSTANCE metrics store, created lazily (subclasses define
        # their own __init__ and need not call super().__init__; a
        # class-level dict here would be shared across executors)
        return self.__dict__.setdefault("_metrics_store", {})

    def metrics(self) -> Dict[str, Any]:
        return dict(self._metrics)

    def _record(self, sql: str, seconds: float, rows: Optional[int] = None):
        m = self._metrics
        m["queries"] = m.get("queries", 0) + 1
        m["elapsed_s"] = m.get("elapsed_s", 0.0) + seconds
        m["last_sql"] = sql


class SQLProvider(FederationProvider):
    """Federation provider backed by a SQLExecutor
    (SQLFederationProvider analog, src/sql/mod.rs:52-61)."""

    def __init__(self, executor: SQLExecutor):
        super().__init__(executor.name, executor.compute_context)
        self.executor = executor
        self.dialect = get_dialect(executor.dialect)

    def can_federate(self) -> bool:
        return True

    def claim(self, plan):
        """Claim the whole handed subtree: unparse to this dialect and wrap
        in a RemoteQueryNode. Runs the staged rewrite pipeline of the
        reference's VirtualExecutionPlan::final_sql (src/sql/mod.rs:207-301):
        per-table logical optimizers (schema-stable) -> unparse -> executor
        ast_analyzer -> per-table ast_analyzers -> sql_query_rewriters.
        """
        from ..federation import apply_table_hooks
        from ..plans.nodes import RemoteQueryNode
        from ..unparser import Unparser

        plan, tables = apply_table_hooks(plan)
        base_sql = Unparser(self.dialect).plan_to_sql(plan)
        sql = base_sql
        if self.executor.ast_analyzer is not None:
            sql = self.executor.ast_analyzer(sql)
        for t in tables:
            if t.remote is not None and t.remote.ast_analyzer is not None:
                sql = t.remote.ast_analyzer(sql)
        for t in tables:
            if t.remote is not None and t.remote.sql_query_rewriter is not None:
                sql = t.remote.sql_query_rewriter(sql)
        return RemoteQueryNode(plan=plan, provider=self, sql=sql,
                               base_sql=base_sql,
                               schema=_expected_schema(plan))


def _expected_schema(plan):
    """Expected output schema of a claimed sub-plan when it needs no
    Spark: a whole-table shape reads the handle's registered schema.
    Every other shape returns None, and the engine's compiler infers it
    through Catalyst (``Compiler._remote_schema``, schema_infer)."""
    from ..expressions import Star
    from ..plans.nodes import Project, Scan, SubqueryAlias

    node = plan
    while True:
        if isinstance(node, SubqueryAlias):
            node = node.input
            continue
        if (isinstance(node, Project) and len(node.projections) == 1
                and isinstance(node.projections[0], Star)
                and node.projections[0].table is None
                and not node.projections[0].replace
                and not node.projections[0].exclude):
            node = node.input
            continue
        break
    if isinstance(node, Scan) and not node.projection:
        return node.table.schema
    return None


# ---------------------------------------------------------------------------
# Concrete executors
# ---------------------------------------------------------------------------

class DuckDBExecutor(SQLExecutor):
    """DuckDB as a remote engine. Tables are registered as DuckDB views
    (e.g. over parquet files); results come back as Arrow and enter Spark
    via createDataFrame (Arrow-accelerated).

    Scale note: this is the 'remote DBMS' of the federation demo. On a real
    cluster the result of a federated query is a single driver-side Arrow
    table; keep federated sub-queries reductive (aggregates / filtered
    subsets), which is exactly what pushdown is for. For large remote
    results prefer JDBCExecutor with partitioned reads.
    """

    dialect = "duckdb"

    def __init__(self, name: str = "duckdb",
                 compute_context: Optional[str] = None,
                 database: str = ":memory:"):
        import duckdb
        self.name = name
        self.compute_context = compute_context or database
        self.conn = duckdb.connect(database)
        self._tables: Dict[str, str] = {}
        self._row_cache: LRU = LRU()

    def register_parquet(self, name: str, path: str):
        self.conn.execute(
            f'CREATE OR REPLACE VIEW "{name}" AS '
            f"SELECT * FROM read_parquet('{path}')")
        self._tables[name] = path

    def register_csv(self, name: str, path: str):
        self.conn.execute(
            f'CREATE OR REPLACE VIEW "{name}" AS '
            f"SELECT * FROM read_csv_auto('{path}')")
        self._tables[name] = path

    def table_names(self) -> List[str]:
        return list(self._tables)

    def get_table_schema(self, spark, table_name: str):
        """Arrow schema of `SELECT * ... LIMIT 0` mapped to Spark types
        directly — no Spark job, and works for empty remote tables (the
        reference's mock infers via `limit 1`; LIMIT 0 is enough since
        Arrow carries the types)."""
        t0 = time.time()
        ref = ".".join(f'"{p}"' for p in table_name.split("."))
        tbl = self.conn.execute(
            f"SELECT * FROM {ref} LIMIT 0").fetch_arrow_table()
        from pyspark.sql.pandas.types import from_arrow_schema
        schema = from_arrow_schema(tbl.schema)
        self._record(f"schema:{table_name}", time.time() - t0)
        return schema

    def execute(self, spark, sql: str, schema=None):
        """``schema`` is the plan's EXPECTED schema, not a strict
        constructor schema: non-empty results enter Spark in DuckDB's
        native Arrow types and the caller's schema-cast projection
        coerces them (SchemaCastScanExec posture); only the zero-row
        case needs the expected schema up front, because nothing can be
        inferred from an empty frame."""
        t0 = time.time()
        arrow = self.conn.execute(sql).fetch_arrow_table()
        self._record(sql, time.time() - t0, arrow.num_rows)
        self._row_cache[sql] = arrow.num_rows
        return arrow_to_spark(spark, arrow, schema)

    def statistics(self, sql: str) -> Optional[int]:
        """Cheap statistics hook (reference src/sql/executor.rs:61-63
        fetches these as an optional hint — NEVER by re-executing the
        plan). We return the exact count if this SQL already ran on this
        connection, else unknown; no remote work is ever issued here."""
        return self._row_cache.get(sql)

    def insert(self, spark, df, table_ref, mode: str = "append"):
        """INSERT INTO passthrough: ship the DataFrame as one Arrow table
        into the remote DuckDB table. Driver-side materialization — meant
        for small/reduced results, like the reference's fallback-provider
        delegation (src/table_provider.rs:126-139)."""
        name = table_ref.name if hasattr(table_ref, "name") else str(table_ref)
        arrow = df.toArrow()
        self.conn.register("__fed_insert", arrow)
        try:
            if mode == "overwrite":
                self.conn.execute(f'DELETE FROM "{name}"')
            self.conn.execute(
                f'INSERT INTO "{name}" SELECT * FROM __fed_insert')
        finally:
            self.conn.unregister("__fed_insert")
        self._row_cache.clear()     # cached counts no longer bound it
        return arrow.num_rows

    def execute_statement(self, spark, sql: str):
        """Remote DML (r12 write-back): the statement runs wholly
        inside DuckDB. Row-cached statistics are dropped — counts
        cached before an INSERT no longer bound the table."""
        t0 = time.time()
        cur = self.conn.execute(sql)
        n = None
        try:
            row = cur.fetchone()
            if row and isinstance(row[0], int):
                n = row[0]          # DuckDB reports a Count row
        except Exception:  # noqa: BLE001 - count is best-effort
            pass
        self._record(sql, time.time() - t0, n)
        self._row_cache.clear()
        return n


#: Catalog-discovery SQL per dialect (SQLSchemaProvider analog — the
#: reference discovers any remote via executor.table_names(),
#: src/sql/schema.rs:19-48). Standard information_schema where the engine
#: has it; engine-specific catalogs otherwise. Each returns rows of
#: (schema_or_null, table_name).
_DISCOVERY_SQL = {
    "ansi": ("SELECT table_schema, table_name FROM "
             "information_schema.tables "
             "WHERE table_type IN ('BASE TABLE', 'VIEW')"),
    "duckdb": ("SELECT table_schema, table_name FROM "
               "information_schema.tables "
               "WHERE table_type IN ('BASE TABLE', 'VIEW')"),
    "postgres": ("SELECT table_schema, table_name FROM "
                 "information_schema.tables "
                 "WHERE table_type IN ('BASE TABLE', 'VIEW') "
                 "AND table_schema NOT IN "
                 "('pg_catalog', 'information_schema')"),
    "mysql": ("SELECT table_schema, table_name FROM "
              "information_schema.tables "
              "WHERE table_type IN ('BASE TABLE', 'VIEW') "
              "AND table_schema NOT IN "
              "('mysql', 'sys', 'performance_schema', "
              "'information_schema')"),
    "sqlite": ("SELECT NULL AS table_schema, name AS table_name "
               "FROM sqlite_master WHERE type IN ('table', 'view')"),
    # Derby has no information_schema; its catalog lives in the SYS
    # schema (tabletype 'T' = user tables, 'V' = views)
    "derby": ("SELECT s.schemaname AS table_schema, "
              "t.tablename AS table_name "
              "FROM sys.systables t "
              "JOIN sys.sysschemas s ON t.schemaid = s.schemaid "
              "WHERE t.tabletype IN ('T', 'V')"),
}


def discovery_sql(dialect_name: str) -> str:
    """The catalog query a remote engine answers with its table list."""
    return _DISCOVERY_SQL.get(dialect_name, _DISCOVERY_SQL["ansi"])


@dataclass
class JDBCPartitioning:
    """Partitioned JDBC read spec — splits the remote result across
    executors instead of the reference's single partition
    (src/sql/mod.rs:177)."""

    column: str
    lower_bound: Any
    upper_bound: Any
    num_partitions: int = 32


class JDBCExecutor(SQLExecutor):
    """Any JDBC engine via Spark's JDBC source; the federated SQL ships as
    ``option("query", sql)`` so the remote executes the whole subtree."""

    def __init__(self, url: str, name: str = "jdbc", dialect: str = "ansi",
                 properties: Optional[Dict[str, str]] = None,
                 partitioning: Optional[JDBCPartitioning] = None,
                 fetchsize: int = 10000):
        self.url = url
        self.name = name
        self.dialect = dialect
        self.compute_context = url
        self.properties = properties or {}
        self.partitioning = partitioning
        self.fetchsize = fetchsize

    def _reader(self, spark, sql: str, partitioned: bool = True):
        r = (spark.read.format("jdbc")
             .option("url", self.url)
             .option("query", sql)
             .option("fetchsize", str(self.fetchsize)))
        for k, v in self.properties.items():
            r = r.option(k, v)
        p = self.partitioning if partitioned else None
        if p is not None:
            # partitioned read: swap `query` for dbtable + bounds
            r = (spark.read.format("jdbc")
                 .option("url", self.url)
                 .option("dbtable", f"({sql}) __fed_q")
                 .option("partitionColumn", p.column)
                 .option("lowerBound", str(p.lower_bound))
                 .option("upperBound", str(p.upper_bound))
                 .option("numPartitions", str(p.num_partitions))
                 .option("fetchsize", str(self.fetchsize)))
            for k, v in self.properties.items():
                r = r.option(k, v)
        return r

    def execute(self, spark, sql: str, schema=None,
                partitioned: bool = True):
        t0 = time.time()
        df = self._reader(spark, sql, partitioned=partitioned).load()
        self._record(sql, time.time() - t0)
        return df

    def table_names(self) -> List[str]:
        """Catalog discovery over the remote's information_schema (or its
        engine-specific catalog), shipped through the same JDBC query
        path as any federated query — mirroring SQLSchemaProvider
        (reference src/sql/schema.rs:19-48). Returns dotted
        schema-qualified names when the engine reports a schema."""
        from pyspark.sql import SparkSession
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "JDBC catalog discovery needs an active SparkSession")
        # catalog/introspection queries must NOT go through the
        # partitioned reader: its partitionColumn does not exist in an
        # information_schema result and the remote would error
        rows = self.execute(spark, discovery_sql(self.dialect),
                            partitioned=False).collect()
        return [f"{r[0]}.{r[1]}" if r[0] else str(r[1]) for r in rows]

    def get_table_schema(self, spark, table_name: str):
        d = get_dialect(self.dialect)
        ref = d.quote_table(table_name)
        return self.execute(
            spark, f"SELECT * FROM {ref} WHERE 1=0",
            partitioned=False).schema

    def insert(self, spark, df, table_ref, mode: str = "append"):
        """INSERT passthrough via Spark's JDBC writer (distributed —
        every partition writes concurrently)."""
        name = (".".join(table_ref.parts) if hasattr(table_ref, "parts")
                else str(table_ref))
        (df.write.mode(mode)
         .options(**self.properties)
         .jdbc(self.url, name))
        return None

    def execute_statement(self, spark, sql: str):
        """Remote DML over a direct java.sql connection (r12
        write-back): executeUpdate runs the whole INSERT ... SELECT
        inside the remote engine — Spark's JDBC source is read-only
        (`query` option), so DML goes through DriverManager on the
        driver JVM. One statement, one connection; no row data
        crosses."""
        t0 = time.time()
        jvm = spark.sparkContext._jvm
        props = jvm.java.util.Properties()
        for k, v in self.properties.items():
            props.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(self.url, props)
        try:
            st = conn.createStatement()
            try:
                n = st.executeUpdate(sql)
            finally:
                st.close()
        finally:
            conn.close()
        self._record(sql, time.time() - t0, n)
        return n


def _sqlite_affinity(decl):
    """SQLite type affinity rules (INT* -> integer, CHAR/CLOB/TEXT ->
    text, BLOB -> binary, REAL/FLOA/DOUB -> real, else numeric)."""
    from pyspark.sql import types as T
    d = (decl or "").upper()
    if "INT" in d:
        return T.LongType()
    if any(k in d for k in ("CHAR", "CLOB", "TEXT")):
        return T.StringType()
    if "BLOB" in d or not d:
        return T.BinaryType() if d else T.StringType()
    if any(k in d for k in ("REAL", "FLOA", "DOUB")):
        return T.DoubleType()
    if "BOOL" in d:
        return T.BooleanType()
    if "DATE" in d:
        return T.DateType()
    return T.DoubleType()       # NUMERIC/DECIMAL affinity


class SQLiteExecutor(SQLExecutor):
    """SQLite as a remote engine via the stdlib driver — the second live
    engine of the reference's two-engine demo (examples/df-csv-advanced.rs
    mocks sqlite + postgres). Results come back as rows and enter Spark
    through createDataFrame with the declared schema."""

    dialect = "sqlite"

    def __init__(self, name: str = "sqlite",
                 compute_context: Optional[str] = None,
                 database: str = ":memory:"):
        import sqlite3
        self.name = name
        self.compute_context = compute_context or database
        self.conn = sqlite3.connect(database, check_same_thread=False)
        self._tables: Dict[str, str] = {}

    def load_rows(self, table: str, create_sql: str, rows: Sequence[tuple]):
        """Create + populate a table (tests / small dims)."""
        self.conn.execute(create_sql)
        if rows:
            ph = ", ".join("?" * len(rows[0]))
            self.conn.executemany(
                f"INSERT INTO {table} VALUES ({ph})", rows)
        self.conn.commit()
        self._tables[table] = create_sql

    def table_names(self) -> List[str]:
        cur = self.conn.execute(
            "SELECT name FROM sqlite_master WHERE type IN ('table','view')")
        return [r[0] for r in cur.fetchall()]

    def get_table_schema(self, spark, table_name: str):
        from pyspark.sql import types as T
        # single-part names only (PRAGMA table_info has no schema syntax)
        bare = table_name.split(".")[-1]
        cur = self.conn.execute(f'PRAGMA table_info("{bare}")')
        fields = []
        for _, name, decl, *_ in cur.fetchall():
            fields.append(T.StructField(name, _sqlite_affinity(decl)))
        return T.StructType(fields)

    def execute(self, spark, sql: str, schema=None):
        """``schema`` is the plan's EXPECTED schema (see DuckDBExecutor).
        SQLite's wire types follow column affinity, so a computed column
        can come back as a Python type the expected Spark type rejects
        (e.g. int where the plan says double) — construct with the
        expected schema when the values verify, else fall back to native
        types and let the caller's schema-cast projection coerce."""
        t0 = time.time()
        cur = self.conn.execute(sql)
        rows = cur.fetchall()
        self._record(sql, time.time() - t0, len(rows))
        cols = [d[0] for d in cur.description]
        if schema is not None:
            if not rows:
                return empty_dataframe(spark, schema)
            try:
                return spark.createDataFrame(rows, schema)
            except Exception:
                pass        # type verification failed -> native path
        if not rows:
            # createDataFrame cannot infer from zero rows; an all-string
            # empty frame keeps the column names (the schema-cast layer
            # fixes types when an expected schema is known upstream)
            from pyspark.sql import types as T
            empty = T.StructType(
                [T.StructField(c, T.StringType()) for c in cols])
            return empty_dataframe(spark, empty)
        return spark.createDataFrame(rows, cols)

    def execute_statement(self, spark, sql: str):
        """Remote DML (r12 write-back): the statement runs wholly
        inside SQLite; sqlite3 reports the affected count."""
        t0 = time.time()
        cur = self.conn.execute(sql)
        self.conn.commit()
        n = cur.rowcount if cur.rowcount >= 0 else None
        self._record(sql, time.time() - t0, n)
        return n


class FlightSQLExecutor(SQLExecutor):
    """Remote engine reached over Arrow Flight — the reference's third
    named executor dialect ('flight', src/sql/executor.rs:32-33, used
    for Flight SQL services). Protocol (the common Flight-as-SQL-
    transport shape):

    - execute:   do_get(Ticket(sql-bytes)) -> Arrow stream
    - discovery: list_flights() descriptors carry table names
    - schema:    get_schema(FlightDescriptor.for_path(name))

    Results enter Spark through the shared Arrow path, so schema-cast
    and empty-result handling behave exactly like the other executors.
    """

    def __init__(self, location: str, name: str = "flight",
                 dialect: str = "ansi",
                 compute_context: Optional[str] = None):
        self.location = location
        self.name = name
        self.dialect = dialect
        self.compute_context = compute_context or location
        self._conn = None

    def _client(self):
        if self._conn is None:
            import pyarrow.flight as fl
            self._conn = fl.connect(self.location)
        return self._conn

    def execute(self, spark, sql: str, schema=None):
        import pyarrow.flight as fl
        t0 = time.time()
        reader = self._client().do_get(fl.Ticket(sql.encode("utf-8")))
        arrow = reader.read_all()
        self._record(sql, time.time() - t0, arrow.num_rows)
        return arrow_to_spark(spark, arrow, schema)

    def table_names(self) -> List[str]:
        names = []
        for info in self._client().list_flights():
            parts = [p.decode("utf-8") if isinstance(p, bytes) else p
                     for p in info.descriptor.path]
            names.append(".".join(parts))
        return names

    def get_table_schema(self, spark, table_name: str):
        import pyarrow.flight as fl
        from pyspark.sql.pandas.types import from_arrow_schema
        t0 = time.time()
        # split dotted names back into path segments: for_path("a.b")
        # would be ONE segment [b'a.b'], not the [a, b] the server listed
        res = self._client().get_schema(
            fl.FlightDescriptor.for_path(*table_name.split(".")))
        schema = from_arrow_schema(res.schema)
        self._record(f"schema:{table_name}", time.time() - t0)
        return schema


class SparkSQLExecutor(SQLExecutor):
    """A (second) SparkSession acting as the remote engine — federation
    between two Spark clusters, or loop-back for testing."""

    dialect = "spark"

    def __init__(self, remote_spark, name: str = "spark_remote",
                 compute_context: Optional[str] = None):
        self.remote = remote_spark
        self.name = name
        self.compute_context = compute_context or str(id(remote_spark))

    def table_names(self) -> List[str]:
        return [t.name for t in self.remote.catalog.listTables()]

    def get_table_schema(self, spark, table_name: str):
        return self.remote.table(table_name).schema

    def execute(self, spark, sql: str, schema=None):
        t0 = time.time()
        df = self.remote.sql(sql)
        self._record(sql, time.time() - t0)
        return df

    def execute_statement(self, spark, sql: str):
        """Remote DML (r12 write-back): the remote SparkSession runs
        the whole statement itself (its own catalog tables must be
        writable — saved tables, not temp views). Spark reports no
        affected-row count for INSERT; returns None."""
        t0 = time.time()
        self.remote.sql(sql).collect()    # DML: collect() forces it
        self._record(sql, time.time() - t0)
        return None
