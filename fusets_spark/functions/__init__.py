"""Column-expression helpers shared across operators."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_us(col: Column | str) -> Column:
    """Microseconds since epoch; tolerant of TIMESTAMP_NTZ inputs (parquet).

    NTZ values are interpreted in the session timezone — the engine pins UTC
    (session.get_spark / __spark_entry__._t), matching DuckDB's naive-UTC
    reading of the same parquet."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))

