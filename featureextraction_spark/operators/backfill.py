"""Rolling forward-fill (SURVEY.md W12).

Reference analog: the carry-forward state in the clamped-cumsum contour
walk (``src/preparation/features/contour.py:74-92``) — the engine makes it
a named operator: ``last(col, ignorenulls=True)`` over an unbounded
preceding ROWS frame.

The salted variant fills per (key, time-bucket) and carries each bucket's
last value into later buckets through a tiny per-(key, bucket) table, so
mega-entities never serialize into one task. That carry is the skew path
of all three salted operators: ``asof_join_salted`` is this fill over the
as-of join's tagged union, and ``sessionize_salted`` shares its
``prior_buckets`` frame.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from featureextraction_spark.functions.time import time_bucket


def forward_fill(
    df: DataFrame,
    cols: Sequence[str],
    key: str = "conv_id",
    order: Sequence[str] = ("ts", "turn_idx"),
    prefix: str = "last_",
) -> DataFrame:
    """Add ``<prefix><col>`` = latest non-null value at or before each row."""
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for c in cols:
        out = out.withColumn(f"{prefix}{c}", F.last(c, ignorenulls=True).over(w))
    return out


def prior_buckets(key: str) -> WindowSpec:
    """Frame over a (key, ``__bucket``) table: every bucket before this one."""
    return (
        Window.partitionBy(key)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )


def forward_fill_salted(
    df: DataFrame,
    cols: Sequence[str],
    key: str = "conv_id",
    ts: str = "ts",
    tie: str = "turn_idx",
    prefix: str = "last_",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Skew-safe forward-fill: in-bucket fill + cross-bucket carry join.

    Phase 1: fill within (key, bucket) windows.
    Phase 2: per-(key, bucket) filled value of the bucket's last row →
    last non-null of those over the prior buckets (one tiny table) →
    broadcast-joined back; coalesce(in-bucket, carried).
    """
    filled = df.withColumn("__bucket", time_bucket(df, ts, bucket_seconds))
    wb = (
        Window.partitionBy(key, "__bucket")
        .orderBy(ts, tie)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in cols:
        filled = filled.withColumn(f"__inb_{c}", F.last(c, ignorenulls=True).over(wb))

    last_row = F.struct(F.col(ts), F.col(tie))
    states = filled.groupBy(key, "__bucket").agg(
        *[F.max_by(f"__inb_{c}", last_row).alias(f"__state_{c}") for c in cols]
    )
    carry = states.select(
        key,
        "__bucket",
        *[
            F.last(f"__state_{c}", ignorenulls=True).over(prior_buckets(key)).alias(f"__carry_{c}")
            for c in cols
        ],
    )

    out = filled.join(F.broadcast(carry), on=[key, "__bucket"], how="left")
    for c in cols:
        out = out.withColumn(
            f"{prefix}{c}", F.coalesce(F.col(f"__inb_{c}"), F.col(f"__carry_{c}"))
        ).drop(f"__inb_{c}", f"__carry_{c}")
    return out.drop("__bucket")
