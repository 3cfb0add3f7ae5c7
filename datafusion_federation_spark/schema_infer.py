"""Plan-level output-schema inference (the DFSchema analog).

The reference wraps EVERY VirtualExecutionPlan in a SchemaCastScanExec
built from the claimed logical plan's own DFSchema
(datafusion-federation/src/sql/mod.rs:143-161), so federated results
always come back in the types the plan declares — regardless of how
weakly the remote engine types its wire results (SQLite affinity,
empty result sets, stringly CSV engines).

DataFusion gets that schema from its expression type-propagation rules.
Our Spark-first analog delegates the propagation to Catalyst itself:
compile the claimed sub-plan against EMPTY local DataFrames bearing each
scan's registered schema, and read the analyzed output ``StructType``.
This is analysis-only — no Spark job runs on an empty frame until an
action is called, and we never call one — yet it yields exact Spark
semantics for the whole expression surface with zero hand-written type
rules.

The engine's ``Compiler`` is the one caller, in its own session and
through its own ``SchemaCache``, for each federated node but a
whole-table read. The cache is keyed on the claimed plan's shape
(``plan_shape``): the plan with every literal inside a WHERE, HAVING or
QUALIFY predicate or a join's ON condition masked, since predicates
never change a node's output schema. Ad-hoc queries that differ only in
those literals share one analysis; every other literal (projections,
function arguments, frame bounds) stays in the key, because it can
decide a column's name or type.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import fields, is_dataclass
from typing import Any, Optional

from .compiler import Compiler
from .expressions import Expr, IntervalLit, Lit, Negative
from .plans.nodes import Filter, Join, Plan, RemoteQueryNode, Scan
from .sources.provider import SchemaCache, empty_dataframe


def infer_plan_schema(spark, plan, cache: SchemaCache,
                      executor) -> Optional[Any]:
    """Output schema of a plan as a pyspark StructType, or None when
    inference is impossible (a scan with no registered schema, or a
    construct Catalyst refuses, e.g. a DuckDB-only function); a failure
    is counted on ``cache`` and the query runs uncast."""
    key = (executor, plan_shape(plan))
    schema = cache.get(key)
    if schema is not None:
        return schema
    try:
        with _quiet_analysis_errors(spark):
            schema = _ShellCompiler(spark, cache).compile(plan).schema
    except Exception as exc:  # noqa: BLE001 - counted, not raised
        cache.failures += 1
        cache.last_failure = f"{type(exc).__name__}: {exc}"
        return None
    cache[key] = schema
    return schema


#: the field of each node whose expression only filters rows
_PREDICATE_FIELD = {Filter: "predicate", Join: "condition"}


def plan_shape(node, masked: bool = False) -> str:
    """Structural repr of a plan in which the value of every literal
    (negated or not) under a ``Filter.predicate`` or a
    ``Join.condition`` is one placeholder. Everything else renders
    verbatim: ``SELECT 5`` is named after its value, and ``round(d, 1)``
    and ``round(d, 2)`` differ in decimal scale."""
    literal = node.expr if isinstance(node, Negative) else node
    if masked and isinstance(literal, (Lit, IntervalLit)):
        return "?"
    if isinstance(node, (Plan, Expr)) and is_dataclass(node):
        pred = _PREDICATE_FIELD.get(type(node))
        parts = []
        for f in fields(node):
            m = masked or f.name == pred
            parts.append(f"{f.name}={plan_shape(getattr(node, f.name), m)}")
        return f"{type(node).__name__}({', '.join(parts)})"
    if isinstance(node, (list, tuple)):
        return "[" + ", ".join(plan_shape(x, masked) for x in node) + "]"
    return repr(node)


@contextmanager
def _quiet_analysis_errors(spark):
    """Silence PySpark's query-context error loggers for the duration
    of a probe whose failure is EXPECTED (remote-only functions like
    DuckDB's string_split fail Catalyst analysis by design; the failure
    is counted and the query proceeds federated). PySpark 4 logs
    every captured AnalysisException as a full ERROR-level JSON stack
    trace through the plain-Python loggers below
    (pyspark/errors/exceptions/base.py:_log_exception) — an operational
    page magnet when it fires on a healthy path at scale."""
    import logging

    names = ("SQLQueryContextLogger", "DataFrameQueryContextLogger")
    # create THROUGH PySpark's factory: a plain logging.getLogger here
    # would REGISTER these names as stdlib Loggers first, and the
    # stdlib manager hands back the existing instance forever after —
    # PySpark's later kwarg-style calls (log.error(..., file=...))
    # then TypeError and MASK the real AnalysisException (review r5,
    # reproduced: every analysis error after one probe surfaced as
    # "Logger._log() got an unexpected keyword argument 'file'")
    try:
        from pyspark.logger import PySparkLogger
        loggers = [PySparkLogger.getLogger(n) for n in names]
    except ImportError:  # pragma: no cover - older pyspark
        loggers = [logging.getLogger(n) for n in names]
    prev = [lg.level for lg in loggers]
    for lg in loggers:
        lg.setLevel(logging.CRITICAL)
    try:
        yield
    finally:
        for lg, lv in zip(loggers, prev):
            lg.setLevel(lv)


class _ShellCompiler(Compiler):
    """Compiler that substitutes every leaf with an empty DataFrame of
    the leaf's declared schema and reuses the real Compiler above the
    leaves (so inference and execution can never diverge on operator
    semantics). A nested federated node infers through the same cache."""

    def __init__(self, spark, cache: SchemaCache):
        super().__init__(spark)
        self._schema_cache = cache

    def compile(self, plan):
        # a cache miss's Catalyst analysis; perfbench times this name
        return super().compile(plan)

    def _c(self, p):
        if isinstance(p, Scan):
            # claimed plans scan remote tables, registered with schemas
            if p.table.schema is None:
                raise ValueError(
                    f"no schema registered for {p.table.local_name!r}")
            df = empty_dataframe(self.spark, p.table.schema)
            if p.projection:
                df = df.select(*p.projection)
            return df.alias(p.table.local_name)
        if isinstance(p, RemoteQueryNode):
            schema = self._remote_schema(p)
            if schema is None:
                raise ValueError("nested federated node without schema")
            return empty_dataframe(self.spark, schema)
        return super()._c(p)
