"""Timezone-proof timestamp arithmetic.

Parquet files may carry TIMESTAMP (instant) or TIMESTAMP_NTZ (wall clock).
``unix_micros``/``cast(double)`` only accept the former; converting NTZ
through the session timezone would make results depend on whoever created
the SparkSession. These helpers compute epoch microseconds natively for
either type so engine output matches a DuckDB oracle (``epoch_us``) exactly
regardless of session timezone.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _is_ntz(df: DataFrame, col: str) -> bool:
    return isinstance(df.schema[col].dataType, T.TimestampNTZType)


def epoch_us(df: DataFrame, col: str) -> Column:
    """Epoch microseconds of a timestamp column, NTZ- and TZ-safe."""
    if _is_ntz(df, col):
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{col}`)"
        )
    return F.unix_micros(F.col(col))


def epoch_seconds(df: DataFrame, col: str) -> Column:
    """Epoch seconds (double, µs precision), NTZ- and TZ-safe."""
    return epoch_us(df, col) / F.lit(1000000.0)


def with_epoch_seconds(df: DataFrame, col: str, out: str) -> DataFrame:
    return df.withColumn(out, epoch_seconds(df, col))


def time_bucket(df: DataFrame, col: str, bucket_seconds: int) -> Column:
    """Contiguous time-bucket id, ``floor(epoch seconds / bucket_seconds)``."""
    return F.floor(epoch_seconds(df, col) / F.lit(float(bucket_seconds))).cast("long")
