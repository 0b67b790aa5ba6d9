"""Rolling active-user analytics and touch attribution over an event log.

Three classics of web-scale event analytics, each designed around ONE
question: what does the shuffle look like at 100 TB?

- ``rolling_active``: exact DAU + trailing-window distinct actives
  (WAU/MAU). The naive formulation self-joins the event log against a
  day range (quadratic in days × events); this one first collapses the
  log to DISTINCT (user, day) pairs — the only state the metric needs,
  bounded by users × days, typically 10⁴× smaller than the log — then
  explodes each pair onto the ``window_days`` days it covers (a bounded
  ×W blow-up of the SMALL table, not the log) and de-duplicates again.
  Three map-side-combinable shuffles over user-day keys; nothing touches
  the raw log twice.

- ``rolling_active_hll``: the same trailing-window actives as merged
  HyperLogLog register tables (the :mod:`sketches` portability
  contract). State per day is ≤ 256 (register, m_rho) rows, windows
  merge by ``max`` per register — the union-of-sketches identity — so
  the rolling metric costs ×W on a table of days×256 rows, independent
  of user count entirely. This is the variant that survives 100 TB /
  billions of users: the exact path's (user, day) state does not fit a
  broadcast, the sketch's 256 rows per day always do.

- ``last_touch_attribution``: credit each conversion event to the most
  recent preceding non-conversion touch of the same user — one
  carry-forward window over the user's timeline (the backfill shape: a
  single user-keyed exchange + sort), then the report is one tiny
  groupBy. Monetary value is quantized to integer thousandths BEFORE
  the sum (the repo's exact-BIGINT vehicle) so per-channel totals are
  bit-identical on every engine regardless of summation order.

No reference counterpart (the reference has no event-log pipeline);
standard public constructions (Flajolet '07 HLL merge; last-touch
attribution is folklore web analytics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.time import epoch_us
from .sampling import _seed_hash
from .sketches import HLL_EST_NUM, HLL_M, HLL_TAIL_BITS, _rho

US_PER_DAY = 86_400_000_000


def _day_expr() -> F.Column:
    # F.expr needs an active session — build per call, not at import
    return F.expr(f"CAST(__us div {US_PER_DAY} AS BIGINT)")


def _user_day(df: DataFrame, user: str, ts: str) -> DataFrame:
    """(__u, day) projection — integer epoch-day via integer division
    (epoch µs exceed double's exact range, so no double division);
    NTZ-safe via the shared epoch_us helper."""
    return df.select(
        F.col(user).alias("__u"), epoch_us(df, ts).alias("__us")
    ).select("__u", _day_expr().alias("day"))


def rolling_active(
    df: DataFrame,
    user: str = "user_id",
    ts: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """(day, dau, rolling_active) for every day with ≥ 1 event;
    ``rolling_active`` counts distinct users active in
    ``[day − window_days + 1, day]`` (WAU for 7, MAU for 30)."""
    ud = _user_day(df, user, ts).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    cov = (
        ud.select(
            "__u",
            F.explode(
                F.sequence(
                    F.col("day"), F.col("day") + F.lit(window_days - 1)
                )
            ).alias("day"),
        )
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("rolling_active"))
    )
    # inner join on the DAU side keeps only days that actually occur
    return dau.join(cov, "day")


def daily_hll_registers(
    df: DataFrame, user: str = "user_id", ts: str = "ts"
) -> DataFrame:
    """Occupied HLL registers per day: (day, register, m_rho) — the
    mergeable daily state a 100-TB pipeline would persist (≤ 256 rows
    per day) instead of re-scanning history for every window."""
    h = df.select(
        epoch_us(df, ts).alias("__us"), _seed_hash(user, 0).alias("__h")
    ).select(_day_expr().alias("day"), "__h")
    return (
        h.select(
            "day",
            F.expr(f"CAST(__h div {1 << HLL_TAIL_BITS} AS BIGINT)").alias(
                "register"
            ),
            _rho(F.pmod(F.col("__h"), F.lit(1 << HLL_TAIL_BITS))).alias(
                "__rho"
            ),
        )
        .groupBy("day", "register")
        .agg(F.max("__rho").cast("long").alias("m_rho"))
    )


def rolling_active_hll(
    df: DataFrame,
    user: str = "user_id",
    ts: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """(day, z_sum, n_occupied, hll_active) — HLL estimate of distinct
    users active in the trailing window, via max-merge of the per-day
    register tables (union-of-sketches). Exact-integer ``z_sum`` makes
    the estimate ONE double division, bit-identical cross-engine."""
    daily = daily_hll_registers(df, user, ts)
    merged = (
        daily.select(
            F.explode(
                F.sequence(
                    F.col("day"), F.col("day") + F.lit(window_days - 1)
                )
            ).alias("day"),
            "register",
            "m_rho",
        )
        .groupBy("day", "register")
        .agg(F.max("m_rho").cast("long").alias("m_rho"))
    )
    est = merged.groupBy("day").agg(
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST({HLL_TAIL_BITS + 1} - m_rho AS INT))"
            )
        )
        .cast("long")
        .alias("__z_occ"),
        F.count(F.lit(1)).cast("long").alias("n_occupied"),
    )
    # untouched registers contribute 2^53 each — restored arithmetically
    # (the fixed-shape identity), no 256-row join needed per day
    z_sum = (
        F.col("__z_occ")
        + (F.lit(HLL_M) - F.col("n_occupied"))
        * F.lit(1 << (HLL_TAIL_BITS + 1))
    ).cast("long")
    days = (
        df.select(epoch_us(df, ts).alias("__us"))
        .select(_day_expr().alias("day"))
        .distinct()
    )
    return (
        est.withColumn("z_sum", z_sum)
        .join(days, "day")
        .select(
            "day",
            "z_sum",
            "n_occupied",
            (F.lit(HLL_EST_NUM) / F.col("z_sum").cast("double")).alias(
                "hll_active"
            ),
        )
    )


def last_touch_attribution(
    df: DataFrame,
    user: str = "user_id",
    ts: str = "ts",
    etype: str = "event_type",
    value: str = "value",
    conversion: str = "purchase",
    tiebreak: str = "event_id",
    default_channel: str = "direct",
) -> DataFrame:
    """One row per conversion event with its attributed ``channel`` (the
    user's most recent STRICTLY-PRIOR non-conversion event type, else
    ``default_channel``) and ``value_q`` = value quantized to integer
    thousandths — the exact-sum vehicle for the per-channel report."""
    w = (
        Window.partitionBy(user)
        .orderBy(epoch_us(df, ts), F.col(tiebreak))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col(etype) != conversion, F.col(etype)), ignorenulls=True
    ).over(w)
    return (
        df.withColumn("channel", F.coalesce(touch, F.lit(default_channel)))
        .where(F.col(etype) == conversion)
        .select(
            F.col(user),
            F.col(tiebreak),
            "channel",
            F.floor(F.col(value) * F.lit(1e3) + F.lit(0.5))
            .cast("long")
            .alias("value_q"),
        )
    )


def attribution_report(touches: DataFrame) -> DataFrame:
    """Per-channel conversion count and exact integer value total —
    one map-side-combinable groupBy onto the channel vocabulary."""
    return touches.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("conversions"),
        F.sum("value_q").cast("long").alias("value_q_sum"),
    )


def rfm_segments(
    df: DataFrame,
    user: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    n_tiles: int = 5,
) -> DataFrame:
    """Classic RFM segmentation: per user, Recency (days since last
    event, relative to the log's max day — no wall clock, so the result
    is a pure function of the input), Frequency (event count) and
    Monetary (exact BIGINT value thousandths), each scored into
    ``n_tiles`` quantile tiles 1..n (1 = lowest metric value; ties
    broken by user id so every engine assigns identical tiles).

    Bit-portability: metrics are integers; a tile is
    ``rank · n_tiles // n_users + 1`` — integer arithmetic only.
    ``value`` must be non-negative (the rank key is zero-padded decimal,
    whose lexicographic order is numeric only for non-negatives).

    Scale design: ONE user-keyed aggregate collapses the log to a
    users-sized table; each tile assignment is
    :func:`..blockpair.with_global_rank`'s two-phase range-partitioned
    rank over THAT table (never the log), so nothing here touches a
    single-partition window. Three rank passes over users×1 rows is the
    cost — at 10⁹ users still three small shuffles.
    """
    from .blockpair import with_global_rank

    per_user = (
        df.select(
            F.col(user).alias("__u"),
            epoch_us(df, ts).alias("__us"),
            F.floor(F.col(value) * F.lit(1e3) + F.lit(0.5))
            .cast("long")
            .alias("__vq"),
        )
        .groupBy("__u")
        .agg(
            F.max(F.expr(f"CAST(__us div {US_PER_DAY} AS BIGINT)")).alias(
                "__last_day"
            ),
            F.count(F.lit(1)).cast("long").alias("f_cnt"),
            F.sum("__vq").cast("long").alias("m_q"),
        )
    )
    ref = per_user.agg(
        F.max("__last_day").alias("__ref_day"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    base = per_user.join(F.broadcast(ref)).withColumn(
        "r_days", (F.col("__ref_day") - F.col("__last_day")).cast("long")
    )
    n = F.col("__n")
    # rank each metric ascending with the user id as the tiebreak; the
    # composite sort key is unique so with_global_rank's contract holds
    for metric, score in (
        ("r_days", "r_score"),
        ("f_cnt", "f_score"),
        ("m_q", "m_score"),
    ):
        base = base.withColumn(
            "__key",
            F.concat_ws(
                "|",
                F.lpad(
                    # metrics are non-negative (r_days ≥ 0 by the ref-day
                    # construction; counts/sums of quantized non-negative
                    # values) so zero-padded decimal order = numeric order
                    F.col(metric).cast("string"),
                    20,
                    "0",
                ),
                # the tiebreak pads too: "10" < "9" lexicographically,
                # and a tie straddling a tile boundary would mis-assign
                F.lpad(F.col("__u").cast("string"), 20, "0"),
            ),
        )
        base = with_global_rank(base, "__key", "__rk").withColumn(
            score,
            F.expr(f"CAST(__rk * {int(n_tiles)} div __n AS BIGINT) + 1"),
        ).drop("__key", "__rk")
    return base.select(
        F.col("__u").alias(user),
        "r_days",
        "f_cnt",
        "m_q",
        "r_score",
        "f_score",
        "m_score",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("long").alias("rfm_code"),
    )


def daily_moments(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    by: str | None = "event_type",
) -> DataFrame:
    """Per-(day[, group]) mergeable moment partials: (n, sum_q, min_q,
    max_q, sum_sq) over value thousandths — the persisted daily state an
    incremental 100-TB pipeline aggregates ONCE, then answers any
    trailing-window mean/variance/extremes question by merging a handful
    of partial rows instead of rescanning history.

    All columns are exact BIGINTs (``sum_sq`` of thousandths bounds the
    int64 budget at ~2·10⁶ rows/day of |value| ≤ 10⁶ — coarsen the
    quantization when values run hotter, documented at the call site).
    One map-side-combinable groupBy; nothing else.
    """
    vq = F.floor(F.col(value) * F.lit(1e3) + F.lit(0.5)).cast("long")
    keys = ["day"] + ([by] if by else [])
    return (
        df.select(
            *([F.col(by)] if by else []),
            epoch_us(df, ts).alias("__us"),
            vq.alias("__vq"),
        )
        .select(*([by] if by else []), _day_expr().alias("day"), "__vq")
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__vq").cast("long").alias("sum_q"),
            F.min("__vq").cast("long").alias("min_q"),
            F.max("__vq").cast("long").alias("max_q"),
            F.sum(F.col("__vq") * F.col("__vq")).cast("long").alias("sum_sq"),
        )
    )


def merge_moments(
    daily: DataFrame, window_days: int = 7, by: str | None = "event_type"
) -> DataFrame:
    """Trailing-window roll-up of :func:`daily_moments` partials — the
    merge half of the lambda pattern: counts/sums add, extremes
    max/min-merge. Costs ×W on the DAILY table (days × groups rows),
    never the raw log; the mean is the single closing division the
    caller nudge-rounds.
    """
    keys = ["day"] + ([by] if by else [])
    exploded = daily.select(
        *([by] if by else []),
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(window_days - 1))
        ).alias("day"),
        "n",
        "sum_q",
        "min_q",
        "max_q",
        "sum_sq",
    )
    merged = exploded.groupBy(*keys).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_q").cast("long").alias("sum_q"),
        F.min("min_q").cast("long").alias("min_q"),
        F.max("max_q").cast("long").alias("max_q"),
        F.sum("sum_sq").cast("long").alias("sum_sq"),
    )
    days = daily.select("day").distinct()
    return merged.join(days, "day").withColumn(
        "mean_q",
        F.col("sum_q").cast("double") / F.col("n").cast("double"),
    )


def combine_moments(
    partials: DataFrame, by: str | None = "event_type"
) -> DataFrame:
    """Second-stage combine of :func:`daily_moments` partials into per-
    group totals — the algebraic-merge half of incremental aggregate
    maintenance: stored partials from yesterday's run plus today's delta
    partials combine to EXACTLY the from-scratch aggregate (n/sum add,
    min/max fold, sum_sq adds), so history is never rescanned. Union any
    number of partial sets first; this is one map-combinable groupBy over
    the tiny partial table.
    """
    keys = [by] if by else []
    agg = partials.groupBy(*keys).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_q").cast("long").alias("sum_q"),
        F.min("min_q").cast("long").alias("min_q"),
        F.max("max_q").cast("long").alias("max_q"),
        F.sum("sum_sq").cast("long").alias("sum_sq"),
    )
    return agg
