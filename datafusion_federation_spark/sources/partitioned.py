"""Distributed partitioned reads from remote SQL engines: split one
remote query into N disjoint hash slices and run each slice INSIDE a
Spark task — the result lands directly on the executors, never on the
driver.

The reference executes each federated subquery as a single stream into
one partition (src/sql/mod.rs:177 builds a 1-partition plan around the
executor's stream); its JDBC story relies on the engine connector.
Spark's JDBC source already gives us range-partitioned reads
(sources/provider.py:JDBCPartitioning); this module is the same idea
for ANY engine reachable from worker processes, the pattern being what
Trino calls splits:

    slice i of N:  SELECT * FROM (<federated sql>) q
                   WHERE (<hash of split_col> % N + N) % N = i

Hash slicing (vs range bounds) needs no min/max probe, balances skewed
key distributions, and covers every row exactly once — including NULL
split keys, which hash to a fixed slice rather than being dropped (the
classic range-partitioning bug: rows outside [lower, upper] bounds are
NOT dropped by Spark's JDBC source, but NULLs are).

``read_slices`` is the one slice reader; an engine supplies only its
``LIMIT 0`` schema probe, the SQL hash of the split key, and a per-slice
fetch that yields pandas frames. This module wires it to DuckDB over a
shared file (each task opens its own READ-ONLY connection and fetches
Arrow record batches); ``sources/postgres.py`` wires it to PostgreSQL.
Result size per task ~ |result| / N — pick N so a slice fits task
memory.
"""

from __future__ import annotations

import re
import time
from typing import Callable, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .provider import SQLExecutor, duckdb_schema


def _slice_sql(sql: str, split_col: str, n_slices: int, i: int,
               key_hash: Optional[str] = None) -> str:
    """Slice ``i`` of ``n_slices`` of ``sql``; ``key_hash`` is the SQL
    hash of the split key (default DuckDB's ``hash(split_col)``)."""
    if n_slices == 1:
        return sql
    h = key_hash or f"hash({split_col})"
    # double-mod: % keeps the dividend's sign in DuckDB and PostgreSQL;
    # DuckDB's hash() is UBIGINT, PostgreSQL's hashtext() is signed
    return (f"SELECT * FROM ({sql}) __fed_part "
            f"WHERE ({h} % {n_slices} + {n_slices})"
            f" % {n_slices} = {i}")


def read_slices(spark: SparkSession, sql: str, split_col: str,
                n_slices: int, probe: Callable, fetch: Callable,
                key_hash: Optional[str] = None) -> DataFrame:
    """Distributed read of ``sql``: it runs ``n_slices`` times, once per
    Spark task, each task keeping only its hash slice of ``split_col``.

    ``probe(sql)`` runs on the driver and returns the Spark schema of
    ``sql`` without moving rows; ``fetch(slice_sql)`` runs inside a task
    and yields the slice as pandas frames. Both must be picklable.

    The read degrades to ONE slice, never to silent row loss, when
    ``split_col`` is not a column of the result (the federated planner
    projected it away: reductive results are small by construction) or
    when re-running the SQL per slice is unsound (LIMIT / ORDER BY
    below)."""
    if n_slices < 1:
        raise ValueError(f"n_slices must be >= 1, got {n_slices}")
    schema = probe(sql)
    if split_col not in schema.names:
        n_slices = 1
    # Hash slicing re-executes the inner SQL once per slice, which is
    # only sound when every execution returns the SAME multiset. A
    # pushed-down LIMIT without a total order is the realistic way that
    # breaks (each connection may pick different rows), and a pushed-
    # down ORDER BY has its ordering destroyed by an N-slice union (the
    # slices interleave arbitrarily; masked in the oracle gate because
    # the comparator sorts). Either degrades to one stream through one
    # task: such results are small or must stay ordered. A false
    # positive (identifier containing 'limit', a subquery-level ORDER
    # BY) costs only parallelism, never correctness. Other
    # nondeterminism (random(), now()) is on the caller, as with any
    # federated pushdown.
    if re.search(r"\blimit\b|\border\s+by\b", sql, re.IGNORECASE):
        n_slices = 1

    def run_slices(batches) -> Iterator:
        for pdf in batches:
            for i in pdf["__slice"]:
                yield from fetch(
                    _slice_sql(sql, split_col, n_slices, int(i), key_hash))

    # one slice id per partition EXACTLY, no shuffle: hash-repartition
    # on the id would collide slices into one task (~1/e of tasks empty,
    # stragglers run 2-3 slices serially — measured 3/8 empty at n=8)
    slices = spark.range(0, n_slices, 1, numPartitions=n_slices) \
        .select(F.col("id").cast("int").alias("__slice"))
    return slices.mapInPandas(run_slices, schema=schema)


def read_duckdb_partitioned(spark: SparkSession, database: str, sql: str,
                            split_col: str, n_slices: int = 32,
                            batch_rows: int = 65536) -> DataFrame:
    """``read_slices`` over a file-backed DuckDB database: each task
    opens its own read-only connection and fetches Arrow record batches.
    Equality with the single-stream read is pinned in
    tests/test_partitioned_read.py.

    ``database`` must be a path visible from every executor (shared
    filesystem); ``:memory:`` cannot work — a worker's memory DB is
    empty, and this function rejects it up front."""
    if database == ":memory:":
        raise ValueError(
            "partitioned reads need a file-backed database visible to "
            "executors; :memory: lives only in the driver process")
    import duckdb

    def probe(q):
        con = duckdb.connect(database, read_only=True)
        try:
            return duckdb_schema(con, f"({q}) __fed_schema")
        finally:
            con.close()

    def fetch(q):
        con = duckdb.connect(database, read_only=True)
        try:
            for batch in con.execute(q).fetch_record_batch(batch_rows):
                yield batch.to_pandas()
        finally:
            con.close()

    return read_slices(spark, sql, split_col, n_slices, probe, fetch)


class SliceReadExecutor:
    """Mixin for executors whose ``execute`` is a distributed slice
    read (``_read_slices``). The rows never reach the driver, so the
    row counts behind ``SQLExecutor.statistics`` are never known; each
    such executor reports a catalog or planner ESTIMATE instead, and
    the broadcast comparison applies its own safety margin to it
    (in-flight transactions can lag a catalog count low)."""

    statistics_is_estimate = True

    def execute(self, spark, sql: str, schema=None):
        t0 = time.time()
        df = self._read_slices(spark, sql)
        # plan-construction time only: the slices run lazily inside
        # Spark tasks, so remote wall time lives in the Spark UI/metrics
        self._record(sql, time.time() - t0)
        return df


class PartitionedDuckDBExecutor(SliceReadExecutor, SQLExecutor):
    """SQLExecutor whose ``execute`` runs the distributed slice read
    above instead of a driver-side fetch. Registered tables must
    already exist in the file database (use DuckDBExecutor against the
    same file to set up, or any external writer).

    ``split_col`` is the PHYSICAL slice key and must name a column of
    every federated result this executor receives — pick the stable
    entity id your schema carries through queries (the row-preserving
    case this executor targets: large non-reductive remote extracts).
    Aggregated/reductive subqueries are small by construction; point
    those at the plain driver-side DuckDBExecutor instead.
    """

    dialect = "duckdb"

    def __init__(self, database: str, split_col: str,
                 name: str = "duckdb_part",
                 compute_context: Optional[str] = None,
                 n_slices: int = 32):
        import duckdb
        self.name = name
        self.database = database
        self.compute_context = compute_context or database
        self.split_col = split_col
        self.n_slices = n_slices
        self._conn = duckdb.connect(database, read_only=True)

    def table_names(self):
        rows = self._conn.execute(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_schema = 'main' ORDER BY table_name"
        ).fetchall()
        return [r[0] for r in rows]

    def get_table_schema(self, spark, table_name: str):
        return duckdb_schema(
            self._conn, ".".join(f'"{p}"' for p in table_name.split(".")))

    def _read_slices(self, spark, sql: str):
        return read_duckdb_partitioned(
            spark, self.database, sql, self.split_col, self.n_slices)

    def statistics(self, sql: str) -> Optional[int]:
        """Catalog-estimate statistics for the slice path: for a
        single-table, non-expanding extract (`SELECT ... FROM "t"
        [WHERE ...]`), the source table's catalog cardinality
        (duckdb_tables().estimated_size — a catalog read, NEVER query
        execution) bounds the rows any filter can return. Over-estimates
        only suppress the broadcast hint, never force a bad one; shapes
        that can expand rows (joins, unnest, second FROM anywhere)
        return unknown. The figure is RAW: the lag-safety margin lives
        at the broadcast comparison (``statistics_is_estimate``), so
        other readers of this hook see the real figure."""
        low = sql.lower()
        if (len(re.findall(r"\bfrom\b", low)) != 1
                or re.search(r"\bjoin\b|\bunnest\b", low)):
            return None
        m = re.search(r'\bfrom\s+((?:"[^"]+"|[A-Za-z_][\w$]*)'
                      r'(?:\.(?:"[^"]+"|[A-Za-z_][\w$]*))*)', sql,
                      re.IGNORECASE)
        if m is None:
            return None
        tbl = m.group(1).split(".")[-1].strip('"')
        row = self._conn.execute(
            "SELECT estimated_size FROM duckdb_tables() "
            "WHERE table_name = ?", [tbl]).fetchone()
        if row is None:
            return None
        return int(row[0])
