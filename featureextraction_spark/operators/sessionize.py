"""Gap-based sessionization via cumulative-sum session ids (SURVEY.md W6).

Reference analog: the run-length walk in
``src/preparation/features/medianwidth.py:18-41`` — close a run at a
transition, accumulate lengths. Transposed to transcripts: a new session
starts when the idle gap ``ts - lag(ts)`` exceeds a threshold; the session
id is the running count of session starts (gaps-and-islands).

Two implementations:

- ``sessionize``: one window over ``partitionBy(key)`` — one shuffle, fine
  whenever a single conversation fits a task.
- ``sessionize_salted``: two-phase for mega-entity skew — per-(key, bucket)
  partial cumsums plus one tiny per-(key, bucket) carry table (first ts,
  last ts, start count) over ``backfill.prior_buckets``, so no single task
  ever holds a whole mega-conversation. Identical results by construction
  (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from featureextraction_spark.functions.time import time_bucket, with_epoch_seconds
from featureextraction_spark.operators.backfill import prior_buckets

DEFAULT_GAP_SECONDS = 1800


def sessionize(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    tie: str = "turn_idx",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    out: str = "session_id",
) -> DataFrame:
    """Add 1-based ``session_id`` per key: cumsum of gap-start flags."""
    d = with_epoch_seconds(df, ts, "__ts_sec")
    w = Window.partitionBy(key).orderBy(ts, tie)
    prev = F.lag("__ts_sec").over(w)
    flag = F.when(
        prev.isNull() | ((F.col("__ts_sec") - prev) > F.lit(float(gap_seconds))), F.lit(1)
    ).otherwise(F.lit(0))
    cum = Window.partitionBy(key).orderBy(ts, tie).rowsBetween(Window.unboundedPreceding, 0)
    return (
        d.withColumn("__new_sess", flag)
        .withColumn(out, F.sum("__new_sess").over(cum).cast("long"))
        .drop("__new_sess", "__ts_sec")
    )


def sessionize_salted(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    tie: str = "turn_idx",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    out: str = "session_id",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Skew-safe sessionize: salt by contiguous time bucket, carry offsets.

    Phase 1: within each (key, bucket), flag gap starts on every row but
    the bucket's first and cumsum them.
    Phase 2: one tiny (key, bucket) table of first ts, last ts and start
    count. Over the prior buckets it decides the bucket's first-row flag
    (against the previous bucket's last ts) and the starts before it; that
    offset is broadcast-joined back onto the partial cumsum.

    Catalyst's skew mitigation covers joins, not windows (SURVEY.md §4) —
    this is the explicit salted-window pattern the north rule requires.
    """
    gap = F.lit(float(gap_seconds))
    b = with_epoch_seconds(df, ts, "__ts_sec").withColumn(
        "__bucket", time_bucket(df, ts, bucket_seconds)
    )
    wb = Window.partitionBy(key, "__bucket").orderBy(ts, tie)
    partial = b.withColumn(
        "__start", F.when(F.col("__ts_sec") - F.lag("__ts_sec").over(wb) > gap, 1).otherwise(0)
    ).withColumn("__partial", F.sum("__start").over(wb.rowsBetween(Window.unboundedPreceding, 0)))

    bounds = partial.groupBy(key, "__bucket").agg(
        F.min("__ts_sec").alias("__first"),
        F.max("__ts_sec").alias("__last"),
        F.sum("__start").alias("__starts"),
    )
    prev_last = F.max("__last").over(prior_buckets(key))
    carry = bounds.withColumn(
        "__opens", F.when(prev_last.isNull() | (F.col("__first") - prev_last > gap), 1).otherwise(0)
    ).select(
        key,
        "__bucket",
        (
            F.coalesce(F.sum(F.col("__starts") + F.col("__opens")).over(prior_buckets(key)), F.lit(0))
            + F.col("__opens")
        ).alias("__offset"),
    )

    return (
        partial.join(F.broadcast(carry), on=[key, "__bucket"], how="left")
        .withColumn(out, (F.col("__partial") + F.col("__offset")).cast("long"))
        .drop("__bucket", "__ts_sec", "__start", "__partial", "__offset")
    )
