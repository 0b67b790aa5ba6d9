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


def session_state_features(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    tie: str = "turn_idx",
    value: str = "value",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
) -> DataFrame:
    """Point-in-time session-state features at every turn: position
    within the session, time elapsed since the session opened, and the
    running value total — the "what does this session look like SO FAR"
    row a model reads at inference time.  Leakage-free by construction:
    every output is a function of the current and earlier rows only.

    Single-exchange formulation.  The naive plan re-partitions by
    ``(key, session_id)`` for the within-session windows — a second
    full shuffle of the fact table.  Instead, every within-session
    cumulative is (global cumulative at the row) − (global cumulative
    at the session start), and the session-start snapshot rides a
    ``last(..., ignorenulls)`` carry-forward over the SAME key-window —
    the ``backfill.forward_fill`` trick.  One
    ``HashPartitioning(key)`` exchange serves sessionize, the
    cumulatives, and the carries (plan-audited).

    Integer-exact: epoch-µs arithmetic, 1e-6-quantized value sums; no
    floats anywhere (callers derive rates as single divisions if they
    want them).

    Reference analog: the memoized derived state + running accumulators
    of ``src/preparation/models.py:17-24`` re-expressed as windows; the
    session id itself is W6 (gap-based sessionization).
    """
    from ..functions.time import epoch_us
    from .rolling import quantize_q6

    d = sessionize(df, key=key, ts=ts, tie=tie, gap_seconds=gap_seconds)
    d = d.withColumn("__us", epoch_us(d, ts)).withColumn(
        "__vq", quantize_q6(F.col(value))
    )
    w = Window.partitionBy(key).orderBy(ts, tie)
    cumw = w.rowsBetween(Window.unboundedPreceding, 0)
    d = (
        d.withColumn("__gcum", F.sum("__vq").over(cumw))
        .withColumn("__grow", F.row_number().over(w).cast("long"))
        .withColumn(
            "__start",
            F.col("session_id")
            != F.coalesce(F.lag("session_id").over(w), F.lit(0)),
        )
    )
    snap = lambda c: F.when(F.col("__start"), c)  # noqa: E731
    d = (
        d.withColumn("__b_cum", snap(F.col("__gcum") - F.col("__vq")))
        .withColumn("__b_row", snap(F.col("__grow") - 1))
        .withColumn("__s_us", snap(F.col("__us")))
    )
    carry = lambda c: F.last(c, ignorenulls=True).over(cumw)  # noqa: E731
    return d.select(
        *df.columns,
        "session_id",
        (F.col("__grow") - carry("__b_row")).alias("turn_in_session"),
        (F.col("__us") - carry("__s_us")).alias("elapsed_us"),
        (F.col("__gcum") - carry("__b_cum")).alias("run_value_sum_q"),
    )


def session_gaps(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    tie: str = "turn_idx",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    churn_seconds: int = 7 * 86400,
) -> DataFrame:
    """One row per (key, session): bounds plus the INTER-session gap —
    the churn signal sessionization exists to expose.

    Columns: start_us / end_us (exact µs), n_events, next_gap_us (µs
    from this session's end to the next session's start; NULL for the
    key's last session) and churned (1 when the gap exceeds
    ``churn_seconds`` OR the session is the last one — the standard
    right-censored churn label, documented; 0 otherwise).

    Scale design: rides :func:`sessionize`'s single key exchange — the
    session collapse is a same-key groupBy (no second shuffle) and the
    lead() over sessions re-partitions only the sessions table (orders
    of magnitude smaller than the log). All comparisons are BIGINT µs.
    """
    from ..functions.time import epoch_us

    sess = sessionize(
        df, key=key, ts=ts, tie=tie, gap_seconds=gap_seconds
    ).select(
        F.col(key), F.col("session_id"), epoch_us(df, ts).alias("__us")
    )
    per_sess = sess.groupBy(key, "session_id").agg(
        F.min("__us").cast("long").alias("start_us"),
        F.max("__us").cast("long").alias("end_us"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w = Window.partitionBy(key).orderBy("session_id")
    nxt = F.lead("start_us").over(w)
    gap = (nxt - F.col("end_us")).cast("long")
    churn_us = int(churn_seconds) * 1_000_000
    return per_sess.withColumn("next_gap_us", gap).withColumn(
        "churned",
        F.when(gap.isNull() | (gap > F.lit(churn_us)), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long"),
    )


def session_paths(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    tie: str = "event_id",
    step: str = "event_type",
    depth: int = 3,
    top_n: int = 20,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Top user-journey prefixes: each session's first ``depth`` steps
    joined into a path string ("view>click>purchase"), counted across
    all sessions, top ``top_n`` reported with exact ppm share — the
    clickstream path-analysis report behind every "how do users reach
    X" question.

    Scale: rides sessionize's single (key) exchange — the per-session
    rank and the first-``depth`` cut happen inside the same sort; the
    path table then collapses to |distinct paths| ≤ |steps|^depth rows
    (tiny alphabet ⇒ tiny table), and the top-n is a distributed
    TakeOrdered. Counts and shares are exact BIGINTs.
    """
    s = sessionize(df, key=key, ts=ts, tie=tie, gap_seconds=gap_seconds)
    w = Window.partitionBy(key, "session_id").orderBy(
        F.col(ts).asc(), F.col(tie).asc()
    )
    r = s.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= depth
    )
    paths = r.groupBy(key, "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__rn", step))),
                lambda x: x[step],
            ),
            ">",
        ).alias("path"),
        F.max("__rn").cast("long").alias("path_len"),
    )
    counts = paths.groupBy("path", "path_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    total = counts.agg(
        F.sum("n_sessions").cast("long").alias("total_sessions")
    )
    top = counts.orderBy(
        F.col("n_sessions").desc(), F.col("path").asc()
    ).limit(top_n)
    return top.crossJoin(F.broadcast(total)).select(
        "path", "path_len", "n_sessions", "total_sessions",
        F.expr("CAST(n_sessions * 1000000 div total_sessions AS BIGINT)")
        .alias("share_ppm"),
    )
