"""Schema-cast layer — the SchemaCastScanExec analog.

The reference casts every record batch coming back from a remote engine to
the plan's declared schema, because remotes return weaker types (strings for
timestamps, JSON strings for lists/structs, wide intervals) — reference
datafusion-federation/src/schema_cast/{mod,record_convert,lists_cast,
struct_cast,intervals_cast}.rs.

Spark-first re-expression: a single ``select`` of cast/from_json/
to_timestamp columns appended right after the remote read. This is a
narrow projection, stays entirely JVM-side (whole-stage codegen), and adds
no shuffle — the right shape at any scale. The compiler appends it only
when the remote result differs from the expected schema in a column name
or type (``compiler._cast_changes``); a result that already matches, as a
strongly typed Arrow remote's usually does, is used as it is.

Covered (SURVEY.md §2A):
- positional arity check, errors on column-count mismatch
  (record_convert.rs:51-59)
- string -> timestamp (record_convert.rs:150-188)
- JSON string -> ArrayType (lists_cast.rs:197-517) incl. fixed-size check
- JSON string -> StructType (struct_cast.rs:12-55)
- interval narrowing with lossy-value errors (intervals_cast.rs:11-75)
- everything else -> generic cast (record_convert.rs:121-123)
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SchemaCastError(ValueError):
    pass


def cast_dataframe(df: DataFrame, expected: T.StructType,
                   fixed_size_lists: Optional[dict] = None) -> DataFrame:
    """Cast `df` positionally to `expected`. ``fixed_size_lists`` maps
    column name -> required length for FixedSizeList semantics (Spark has
    no fixed-size array type — SURVEY.md §7 hard-part #4)."""
    actual = df.schema
    if len(actual.fields) != len(expected.fields):
        raise SchemaCastError(
            f"column count mismatch: got {len(actual.fields)}, "
            f"expected {len(expected.fields)} "
            "(casting is positional, like the reference)")
    # rename to unique positional names first: genuinely positional access
    # (a remote join result may carry duplicate column names, which
    # by-name F.col() cannot address)
    tmp = df.toDF(*[f"__pc{i}" for i in range(len(actual.fields))])
    cols = []
    for i, (src, dst) in enumerate(zip(actual.fields, expected.fields)):
        pc = F.col(f"__pc{i}")
        c = cast_column(pc, src.dataType, dst.dataType)
        if fixed_size_lists and dst.name in fixed_size_lists:
            n = fixed_size_lists[dst.name]
            c = F.when(pc.isNull(), F.lit(None).cast(dst.dataType)) \
                 .otherwise(_assert_size(c, n, dst.name))
        cols.append(c.alias(dst.name))
    return tmp.select(*cols)


def cast_column(col: Column, src: T.DataType, dst: T.DataType) -> Column:
    """Per-column dispatch (try_cast_to analog, record_convert.rs:51-130)."""
    if src == dst:
        return col
    if isinstance(src, T.StringType):
        if isinstance(dst, T.TimestampType):
            return F.to_timestamp(col)
        if isinstance(dst, T.DateType):
            return F.to_date(col)
        if isinstance(dst, (T.ArrayType, T.StructType, T.MapType)):
            # JSON-string decode; invalid JSON -> null (arrow-json errors;
            # we choose Spark's permissive from_json and surface nulls)
            return F.from_json(col, dst)
    if isinstance(src, T.DayTimeIntervalType) and isinstance(
            dst, T.YearMonthIntervalType):
        raise SchemaCastError(
            "lossy interval narrowing day-time -> year-month")
    if isinstance(src, T.YearMonthIntervalType) and isinstance(
            dst, T.DayTimeIntervalType):
        raise SchemaCastError(
            "lossy interval narrowing year-month -> day-time")
    if isinstance(src, T.CalendarIntervalType):
        # MonthDayNano analog: narrowing validated at runtime via
        # interval_narrow_* helpers below.
        raise SchemaCastError(
            "use cast_interval_* helpers for calendar intervals")
    return col.cast(dst)


def _assert_size(col: Column, n: int, name: str) -> Column:
    """FixedSizeList check: raise at evaluation time when a row's array
    length differs (the reference errors likewise for lossy values)."""
    return F.when(F.size(col) == n, col).otherwise(
        F.raise_error(F.format_string(
            f"fixed-size list '{name}' expects {n} elements, got %s",
            F.size(col).cast("string"))))


def cast_interval_months_days_to_yearmonth(df: DataFrame, months: str,
                                           days: str, out: str) -> DataFrame:
    """Interval(MonthDayNano) -> Interval(YearMonth): error when days
    non-zero (intervals_cast.rs:11-44)."""
    checked = F.when(
        F.col(days) != 0,
        F.raise_error(F.lit("lossy interval: non-zero days in "
                            "month-day -> year-month narrowing"))
    ).otherwise(F.make_ym_interval(
        (F.col(months) / 12).cast("int"), (F.col(months) % 12).cast("int")))
    return df.withColumn(out, checked)


def cast_interval_months_days_to_daytime(df: DataFrame, months: str,
                                         days: str, out: str) -> DataFrame:
    """Interval(MonthDayNano) -> Interval(DayTime): error when months
    non-zero (intervals_cast.rs:47-75)."""
    checked = F.when(
        F.col(months) != 0,
        F.raise_error(F.lit("lossy interval: non-zero months in "
                            "month-day -> day-time narrowing"))
    ).otherwise(F.make_dt_interval(F.col(days).cast("int")))
    return df.withColumn(out, checked)
