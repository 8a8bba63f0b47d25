"""Timespan helpers (SURVEY.md §1.2, §2.9 C2).

The reference's TimespanArrowType is a struct of two int64 nanoseconds
(datasets_parquet.py:39-49, 119-121).  Spark TimestampType is µs-precision,
so nanosecond bounds live as LongType pairs and are never compared as
timestamps (SURVEY.md §7.4.1).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_ns(ts: Column) -> Column:
    """Timestamp -> int64 ns since epoch (exact integer arithmetic; a
    double cast would lose precision above 2^53)."""
    return (F.unix_micros(ts.cast("timestamp")) * F.lit(1000)).cast("long")
