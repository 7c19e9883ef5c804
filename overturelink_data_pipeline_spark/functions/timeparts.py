"""Timezone-free time bucketing over epoch-nanosecond longs.

The driver's ``events`` table stores TIMESTAMP(NANOS); we scan it as
epoch-nanos LongType (session.py). These helpers derive calendar
buckets with pure integer arithmetic + DATE functions (``date_add`` /
``date_format`` on DateType are timezone-independent), so query
results cannot shift with ``spark.sql.session.timeZone`` — the DuckDB
oracle is naive-UTC and must hash-match under any driver session.

Everything here is a Catalyst expression: whole-stage-codegen'd,
pushdown-friendly, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NS_PER_SEC = 1_000_000_000
SEC_PER_DAY = 86_400
SEC_PER_HOUR = 3_600


def _idiv(col: Column, divisor: int) -> Column:
    """Exact integer division for LongType columns via the SQL ``div``
    operator — pure long arithmetic, no intermediate rounding.

    Neither floating ``/`` nor decimal division is safe here: doubles
    carry ~128 ns representation error above 2^53, and decimal division
    types the quotient as decimal(38,6) whose HALF_UP rounding to 6
    decimals happens BEFORE any floor — empirically
    ``floor(1_999_999_999 ns / 10^9)`` came back 2 through decimals.
    ``div`` truncates toward zero, which equals floor for the
    non-negative epoch values these helpers contract for (and matches
    DuckDB's integer-division oracle either way)."""
    return F.call_function("div", col.cast("long"), F.lit(divisor))


def epoch_seconds(ns: Column) -> Column:
    """Truncating ns → s (matches DuckDB's ns→us→truncate semantics)."""
    return _idiv(ns, NS_PER_SEC)


def utc_date(ns: Column) -> Column:
    """Calendar date (tz-free): 1970-01-01 + floor(s / 86400) days."""
    days = F.floor(epoch_seconds(ns) / SEC_PER_DAY).cast("int")
    return F.date_add(F.lit("1970-01-01").cast("date"), days)


def utc_hour(ns: Column) -> Column:
    """Hour-of-day 0-23 (tz-free)."""
    return F.floor((epoch_seconds(ns) % SEC_PER_DAY) / SEC_PER_HOUR).cast("int")


def hour_bucket_str(ns: Column) -> Column:
    """``yyyy-MM-dd HH:00`` label, equivalent to
    ``STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:00')`` in DuckDB."""
    return F.concat(
        F.date_format(utc_date(ns), "yyyy-MM-dd"),
        F.lit(" "),
        F.lpad(utc_hour(ns).cast("string"), 2, "0"),
        F.lit(":00"),
    )


def minute_bucket_ns(ns: Column, minutes: int) -> Column:
    """Tumbling-window start in epoch-nanos (streaming-style bucketing)."""
    width = minutes * 60 * NS_PER_SEC
    return (_idiv(ns, width) * width).cast("long")
