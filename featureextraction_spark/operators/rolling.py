"""Trailing time-window (point-in-time) rolling features.

Per turn, features over the trailing ``window_sec`` seconds of the SAME
conversation, current row inclusive — "state of the last five minutes"
at every event timestamp. The frame is a RANGE frame over epoch
microseconds, so rows whose timestamps tie are peers and see identical
windows on every engine and every partitioning (no ROWS-frame tie
nondeterminism). Zero temporal leakage by construction: the frame upper
bound is CURRENT ROW.

Outputs per turn:

- ``win_turns``      — turns inside the window (current included);
- ``win_tool_turns`` — of those, turns with a non-null tool;
- ``win_roles``      — distinct roles inside the window;
- ``win_value_sum_q`` — exact integer sum of the value column quantized
  to 1e-6 (``CAST(floor(value * 1e6 + 0.5) AS BIGINT)`` — identical
  IEEE ops on both engines, so the sum is a portable hash vehicle);
- ``win_value_mean`` — that sum divided by ``1e6 * win_turns``: ONE
  integer/integer division, nudge-rounded by the caller.

Scale design: one ``HashPartitioning(key)`` exchange serves every
window; the range frame's working set is bounded by the window span
(turns a conversation emits in ``window_sec``), not by conversation
length, so mega-conversations degrade only the per-key sort. The
distinct-role count materializes the in-window role list
(``collect_list`` under the frame) — bounded by the same span and kept
JVM-side (no Python). For skewed keys the sessionize/backfill salted
variants show the standard escape hatch.

No reference counterpart (the reference pipeline is per-image); this is
the standard trailing-window feature family a point-in-time engine
serves (BASELINE.json north rule: windowed operators over transcripts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.time import epoch_us

US = 1_000_000


def quantize_q6(col: F.Column) -> F.Column:
    """value → integer micro-units: floor(value * 1e6 + 0.5), exact and
    engine-portable (pure IEEE double ops on identical input bits)."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)).cast("long")


def rolling_time_features(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    role: str = "role",
    tool: str = "tool",
    value: str = "value",
    window_sec: int = 300,
) -> DataFrame:
    """Append trailing-``window_sec`` rolling features to every row."""
    us = epoch_us(df, ts)
    t = df.withColumn("__us", us).withColumn("__vq", quantize_q6(F.col(value)))
    w = (
        Window.partitionBy(key)
        .orderBy("__us")
        .rangeBetween(-window_sec * US, 0)
    )
    out = (
        t.withColumn("win_turns", F.count(F.lit(1)).over(w))
        .withColumn("win_tool_turns", F.count(F.col(tool)).over(w))
        .withColumn(
            "win_roles",
            F.size(F.array_distinct(F.collect_list(F.col(role)).over(w))).cast(
                "long"
            ),
        )
        .withColumn("win_value_sum_q", F.sum("__vq").over(w))
        .withColumn(
            "win_value_mean",
            F.col("win_value_sum_q")
            / (F.lit(float(US)) * F.col("win_turns")),
        )
    )
    return out.drop("__us", "__vq")


def dyadic_ewma(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    tie: str = "turn_idx",
    value: str = "value",
    depth: int = 20,
) -> DataFrame:
    """Exponentially-weighted moving average with α = 1/2 over the last
    ``depth``+1 turns — EXACT, via dyadic integer arithmetic.

    Float EWMAs are recursively accumulated and therefore neither
    order-free nor engine-portable.  With α = 1/2 the weights are powers
    of two, so the numerator is a pure integer fold over the REVERSED
    trailing frame (newest first): ``num = fold(acc, x → acc·2 + x)
    = Σ x_i·2^i`` with i counted from the oldest, and the weight total
    is ``2^len − 1`` — the newest turn carries weight 2^(len−1), each
    step back halves it.  The value is quantized to
    milli-units; the only float is the final ``num / (denom·1000)`` —
    one division of exact integers, nudge-rounded by the caller.

    Overflow budget: |num| ≤ |vq3|·2^(depth+1); with |v| ≤ 5.6e2 (vq3 ≤
    5.6e5) and depth 20 that is ~1.2e12 — int64 to spare (depth ≤ 40
    before it matters).

    Plan: one trailing ROWS frame under the (ts, tie) total order — the
    same single key-exchange as every window in this family; the fold is
    a JVM higher-order ``aggregate``, zero Python.  The frame list is
    ``depth+1`` longs per row — bounded, not conversation-length.

    North-rule family: windowed trailing-state operator (the smoothed
    twin of ``rolling_time_features``).
    """
    vq3 = F.floor(F.col(value) * F.lit(1e3) + F.lit(0.5)).cast("long")
    t = df.withColumn("__vq", vq3)
    w = (
        Window.partitionBy(key)
        .orderBy(ts, tie)
        .rowsBetween(-depth, 0)
    )
    lst = F.collect_list("__vq").over(w)  # frame order: oldest → newest
    t = t.withColumn("__lst", lst)
    # fold NEWEST-first (reversed frame): acc·2 + x doubles everything
    # already accumulated at each step, so the element folded FIRST ends
    # with the largest weight — the newest turn must go first
    num = F.aggregate(
        F.reverse(F.col("__lst")),
        F.lit(0).cast("long"),
        lambda acc, x: acc * F.lit(2).cast("long") + x,
    )
    ln = F.size("__lst")
    # shiftleft wants a literal bit count in the Python API — the SQL
    # form takes a column; 2^len − 1 stays integer-exact (len ≤ 41)
    denom = F.expr(
        "shiftleft(CAST(1 AS BIGINT), size(__lst)) - CAST(1 AS BIGINT)"
    )
    return (
        t.withColumn("ewma_num", num)
        .withColumn("ewma_len", ln.cast("long"))
        .withColumn(
            "ewma",
            F.col("ewma_num") / (denom.cast("double") * F.lit(1000.0)),
        )
        .drop("__vq", "__lst")
    )


def resample_bars(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    tie: str = "event_id",
    value: str = "value",
    bucket_us: int = 6 * 3_600 * 1_000_000,
    quant: int = 10_000,
) -> DataFrame:
    """Downsample an event stream to per-(key, bucket) OHLC bars — the
    time-grain resampling a feature pipeline runs before trend features:
    open/close are the first/last value in the bucket by (ts, tie),
    high/low/sum exact quantized-integer extrema/mass, n the row count.

    One (key, bucket) exchange carrying two in-partition sorts (the
    ascending and descending row_numbers that pin open and close — an
    ORDER-dependent first/last, not an arbitrary-row ``first()``); the
    closing groupBy rides the same partitioning. Bucket assignment is
    exact integer division of epoch µs.
    """
    from ..functions.time import epoch_us

    us = epoch_us(df, ts)
    vq = F.floor(F.col(value).cast("double") * F.lit(float(quant)) + F.lit(0.5)).cast("long")
    bucket = ((us - F.pmod(us, F.lit(bucket_us))) / F.lit(bucket_us)).cast("long")
    base = df.select(
        F.col(key),
        bucket.alias("bucket"),
        us.alias("__us"),
        F.col(tie).alias("__tie"),
        vq.alias("__vq"),
    )
    w_asc = Window.partitionBy(key, "bucket").orderBy("__us", "__tie")
    w_desc = Window.partitionBy(key, "bucket").orderBy(
        F.col("__us").desc(), F.col("__tie").desc()
    )
    marked = base.select(
        key,
        "bucket",
        "__vq",
        F.row_number().over(w_asc).alias("__ra"),
        F.row_number().over(w_desc).alias("__rd"),
    )
    return marked.groupBy(key, "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max(F.when(F.col("__ra") == 1, F.col("__vq"))).cast("long").alias("open_q"),
        F.max("__vq").cast("long").alias("high_q"),
        F.min("__vq").cast("long").alias("low_q"),
        F.max(F.when(F.col("__rd") == 1, F.col("__vq"))).cast("long").alias("close_q"),
        F.sum("__vq").cast("long").alias("sum_q"),
    )


def autocorrelation(
    df: DataFrame,
    value: str,
    by: str,
    order: list[str],
    lags: tuple[int, ...] = (1, 2, 3),
    quant: float = 1000.0,
) -> DataFrame:
    """Per-key lag-k autocorrelation of a quantized value series — the
    burstiness / periodicity feature for per-entity event streams.

    Uses the denominator-cleared form so every hash-gated aggregate is
    an exact BIGINT, order-independent under any partial aggregation:
    with ``q`` the quantized value, ``n`` the series length and
    ``S = Σq``, the centered residual scaled by ``n`` is ``c_t = n·q_t − S``
    and

        acf_num(k) = Σ_{t ≤ n−k} c_t · c_{t+k}
        acf_den    = Σ_t c_t²
        acf(k)     = acf_num(k) / acf_den   (the ONE closing division)

    which equals the standard ACF with the full-series mean (the n²
    factors cancel). Quantization defaults to 1e-3 — squared moments
    need the coarser grid to stay inside int64 (|c| ≤ n·q_max, so
    acf_den ≤ n³·q_max²; at 1e-3 a 1k-turn series of values ≤ 1e3
    stays < 2^63).

    Scale: ONE HashPartitioning(by) exchange serves the unbounded
    window aggregates (n, S), the ordered lead()s and the final
    groupBy — Spark reuses the partitioning; per-key work is linear in
    series length. The lag unpivot is a JVM ``stack`` (no shuffle).
    """
    q = F.floor(F.col(value).cast("double") * F.lit(quant) + F.lit(0.5)).cast(
        "long"
    )
    wp = Window.partitionBy(by)
    wo = Window.partitionBy(by).orderBy(*order)
    d = df.select(
        F.col(by),
        q.alias("__q"),
        *[F.col(c) for c in order],
    )
    d = d.select(
        by,
        "__q",
        F.count(F.lit(1)).over(wp).cast("long").alias("__n"),
        F.sum("__q").over(wp).cast("long").alias("__s"),
        *[F.lead("__q", k).over(wo).alias(f"__q{k}") for k in lags],
    )
    c = F.col("__n") * F.col("__q") - F.col("__s")
    aggs = [
        F.max("__n").alias("n"),
        F.sum(c * c).cast("long").alias("acf_den"),
    ]
    for k in lags:
        ck = F.col("__n") * F.col(f"__q{k}") - F.col("__s")
        aggs.append(
            F.sum(
                F.when(F.col(f"__q{k}").isNotNull(), c * ck).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias(f"__num{k}")
        )
    g = d.groupBy(by).agg(*aggs)
    stack = ", ".join(f"{k}, __num{k}" for k in lags)
    out = g.select(
        by,
        "n",
        "acf_den",
        F.expr(f"stack({len(lags)}, {stack}) AS (lag, acf_num)"),
    )
    return out.select(
        by,
        F.col("lag").cast("long").alias("lag"),
        "n",
        "acf_num",
        "acf_den",
        F.when(
            F.col("acf_den") > 0,
            F.col("acf_num").cast("double") / F.col("acf_den").cast("double"),
        ).alias("acf"),
    )


def cross_correlation(
    x: DataFrame,
    y: DataFrame,
    t: str = "t",
    xv: str = "xq",
    yv: str = "yq",
    max_lag: int = 3,
) -> DataFrame:
    """Lead–lag cross-correlation between two integer-valued series on a
    shared integer time grid — "do purchases follow clicks, and by how
    many days?". For each lag k in [−max_lag, +max_lag] it computes the
    Pearson correlation of (x_t, y_{t+k}) over the days where BOTH sides
    exist; positive k means y lags x (x leads).

    Bit-portability contract (the ``corr_matrix`` one): the
    caller supplies exact BIGINT values (counts, or pre-quantized
    floats), so per lag the sufficient statistics n, Σx, Σy, Σxy, Σx²,
    Σy² are exact BIGINTs and the n-cleared moments

        ccf_num = n·Σxy − Σx·Σy
        dx      = n·Σx² − (Σx)²
        dy      = n·Σy² − (Σy)²

    are exact integer hash vehicles. The closing

        ccf = ccf_num / (sqrt(dx) · sqrt(dy))

    is a FIXED double expression tree — int64 < 2^53 casts exactly and
    sqrt is IEEE-correctly-rounded on both engines — so the float
    reproduces bit-for-bit cross-engine. NULL when either side is
    constant over the overlap (dx·dy = 0) or the overlap is empty.

    Scale: the lag fan-out replicates the X side (2·max_lag + 1)×, then
    ONE equi-join on the shifted grid key and ONE tiny groupBy(lag).
    The series are pre-aggregated (one row per grid cell), so both
    inputs are |grid| rows, not |events| — at 100 TB the daily grid is
    ~10⁴ rows regardless of input size; everything upstream is a
    map-side-combinable count. int64 budget: n·Σxy ≤ 9.2e18 — e.g. a
    10-year daily grid (n≈3.7e3) with per-cell values ≤ 8e5.

    Public-knowledge semantics (Box–Jenkins CCF); no reference
    counterpart (the reference pipeline is per-image).
    """
    spark = x.sparkSession
    lags = spark.range(2 * max_lag + 1).select(
        (F.col("id") - F.lit(max_lag)).cast("long").alias("lag")
    )
    xl = (
        x.select(F.col(t).cast("long").alias("__tx"), F.col(xv).alias("__x"))
        .crossJoin(F.broadcast(lags))
        .withColumn("__ty", F.col("__tx") + F.col("lag"))
    )
    yr = y.select(F.col(t).cast("long").alias("__ty"), F.col(yv).alias("__y"))
    j = xl.join(yr, "__ty")
    g = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__x").cast("long").alias("sx"),
        F.sum("__y").cast("long").alias("sy"),
        F.sum(F.col("__x") * F.col("__y")).cast("long").alias("sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast("long").alias("sxx"),
        F.sum(F.col("__y") * F.col("__y")).cast("long").alias("syy"),
    )
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("long")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("long")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("long")
    g = g.select(
        "lag", "n",
        num.alias("ccf_num"), dx.alias("dx"), dy.alias("dy"),
    )
    ccf = F.col("ccf_num").cast("double") / (
        F.sqrt(F.col("dx").cast("double")) * F.sqrt(F.col("dy").cast("double"))
    )
    return g.select(
        "lag", "n", "ccf_num", "dx", "dy",
        F.when((F.col("dx") > 0) & (F.col("dy") > 0), ccf).alias("ccf"),
    )
