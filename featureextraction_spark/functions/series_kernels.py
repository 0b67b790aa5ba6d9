"""Vectorized numpy kernels for the reference feature families, transposed
onto 1-D per-conversation numeric series (FIXTURES.md §3).

The reference computes each family over a 2-D handwriting image; the graft
computes the same *formulas* over the per-conversation series
``s[i] = metric(text at turn i)`` (char length for the lc family, token
count for the uc family). Reference citations mark exactly which loop each
vectorization reproduces; ``oracle/reference_kernels.py`` holds the naive
transcriptions these are tested against.

NaN policy (documented per SURVEY.md §7):
- zones: fewer than 3 histogram bins → (nan, nan, nan) (reference grid
  ``writingzones.py:40-44`` has no valid (ub, lb) pair).
- median_width: no closed white run → nan (reference would raise
  ``statistics.median([])``, ``medianwidth.py:41``).
- ols: slope needs >= 2 points (1 point → slope 0.0, the pinv least-norm
  convention); mse_resid needs >= 3 (statsmodels SSR/(n-2),
  ``contour.py:95-110``).
- slope averages: no extremes → nan (``np.average([])``, ``contour.py:46-51``
  — the reference's FAULTY_FEATURES).
- contour families: empty gap-free series → all-nan family.

All functions are deterministic pure functions of their input array.
"""

from __future__ import annotations

import math

import numpy as np

ZONES_MAX_HIST = 64  # scale cap: histogram axis analog of image height
SLANT_N_ANGLES = 40  # reference slantness.py:21
SLANT_WINDOW = 8  # drift window (graft-defined, fixed)
EXTREMES_WINDOW = 10  # reference contour.py:12
SLOPE_DISTANCE = 10  # reference contour.py:12


# ---------------------------------------------------------------------------
# zones (reference writingzones.py:17-87, SURVEY.md A1-A4)
# ---------------------------------------------------------------------------


def zones_histogram(s: np.ndarray, max_hist: int = ZONES_MAX_HIST) -> np.ndarray:
    """Activity histogram: the series itself, or binned to ``max_hist`` bins
    for long prefixes (scale cap — keeps the grid argmin O(max_hist²))."""
    n = len(s)
    if n <= max_hist:
        return s.astype(np.float64)
    edges = (np.arange(max_hist + 1) * n) // max_hist
    cs = np.concatenate([[0.0], np.cumsum(s, dtype=np.float64)])
    return cs[edges[1:]] - cs[edges[:-1]]


def zones(s: np.ndarray, max_hist: int = ZONES_MAX_HIST) -> tuple[float, float, float]:
    """(upper_zone, middle_zone, lower_zone) fractions.

    Grid argmin over (ub, lb), 1 <= lb < ub < H, of SSE vs the ideal
    80/10/10 histogram (reference ``ideal_hist`` double-rounding
    ``writingzones.py:79-87`` reproduced exactly); first minimum in
    (ub asc, lb asc) iteration order wins (strict ``<``,
    ``writingzones.py:43``).
    """
    return zones_from_hist(
        zones_histogram(np.asarray(s, dtype=np.float64), max_hist)
    )


_ZONE_GRIDS: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}


def _zone_grid(h: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(lb_grid, ub_grid, valid) for histogram length ``h`` — pure shape,
    cached: h is bounded by ZONES_MAX_HIST and dense probing evaluates
    thousands of same-h grids."""
    got = _ZONE_GRIDS.get(h)
    if got is None:
        ub = np.arange(2, h)  # ub in 2..h-1 (needs lb < ub, lb >= 1)
        lb_grid, ub_grid = np.meshgrid(np.arange(1, h - 1), ub)  # rows: ub asc
        got = (lb_grid, ub_grid, lb_grid < ub_grid)
        if len(_ZONE_GRIDS) < 4096:
            _ZONE_GRIDS[h] = got
    return got


def zones_from_hist(hist: np.ndarray) -> tuple[float, float, float]:
    """Grid-argmin stage of :func:`zones` over a prebuilt activity
    histogram — split out so the dense-probe path can build prefix
    histograms in O(bins) from a shared cumulative sum instead of
    re-scanning the series per probe."""
    h = len(hist)
    if h < 3:
        return (math.nan, math.nan, math.nan)
    total = float(hist.sum())

    s1 = np.concatenate([[0.0], np.cumsum(hist)])
    s2 = np.concatenate([[0.0], np.cumsum(hist * hist)])

    lb_grid, ub_grid, valid = _zone_grid(h)

    middle_zone = np.round(0.8 * total)
    upper_lower_zone = np.round(0.1 * total)
    with np.errstate(invalid="ignore", divide="ignore"):
        # invalid cells (lb >= ub) divide by <= 0; masked to inf below
        mid_ideal = np.round(middle_zone / (ub_grid - lb_grid))
        up_ideal = np.round(upper_lower_zone / (h - ub_grid))
        low_ideal = np.round(upper_lower_zone / lb_grid)

    def sse(lo, hi, ideal):
        cnt = hi - lo
        return (s2[hi] - s2[lo]) - 2.0 * ideal * (s1[hi] - s1[lo]) + cnt * ideal * ideal

    with np.errstate(invalid="ignore", divide="ignore"):
        err = (
            sse(np.zeros_like(lb_grid), lb_grid, low_ideal)
            + sse(lb_grid, ub_grid, mid_ideal)
            + sse(ub_grid, np.full_like(ub_grid, h), up_ideal)
        )
    err = np.where(valid, err, np.inf)
    flat = int(np.argmin(err))  # first occurrence == reference iteration order
    best_ub = int(ub_grid.flat[flat])
    best_lb = int(lb_grid.flat[flat])
    return (
        (h - best_ub) / h,
        (best_ub - best_lb) / h,
        best_lb / h,
    )


# ---------------------------------------------------------------------------
# median width (reference medianwidth.py:18-41, SURVEY.md A5-A6 + W6)
# ---------------------------------------------------------------------------


def median_width(s: np.ndarray) -> float:
    """Median length of 'white' runs (below-mean values) that are closed by
    a following 'black' value; the leading run is dropped when the series
    starts white (``medianwidth.py:37-39``)."""
    s = np.asarray(s, dtype=np.float64)
    if len(s) == 0:
        return math.nan
    white = s < s.mean()
    if not white.any() or white.all():
        return math.nan
    w = white.astype(np.int8)
    starts = np.flatnonzero(np.diff(np.concatenate([[0], w])) == 1)
    ends = np.flatnonzero(np.diff(np.concatenate([w, [0]])) == -1) + 1
    closed = ends < len(s)  # run must be followed by black
    lengths = (ends - starts)[closed]
    if white[0] and len(lengths) > 0 and starts[closed][0] == 0:
        lengths = lengths[1:]
    if len(lengths) == 0:
        return math.nan
    return float(np.median(lengths))


# ---------------------------------------------------------------------------
# contour family (reference contour.py, SURVEY.md W3-W5, A10-A12)
# ---------------------------------------------------------------------------


def characteristic_contour(raw: np.ndarray) -> np.ndarray:
    """Clamped ±1-step cumulative walk, normalized to >= 0
    (``contour.py:74-92``). ``raw`` must already be gap-free."""
    raw = np.asarray(raw, dtype=np.float64)
    if len(raw) == 0:
        return raw
    steps = np.sign(np.diff(raw))
    c = raw[0] + np.concatenate([[0.0], np.cumsum(steps)])
    return c - min(0.0, c.min())


def ols_fit(y: np.ndarray) -> tuple[float, float, float]:
    """(intercept, slope, mse_resid) of y ~ [1, x], x = 0..n-1.

    Closed form matching statsmodels OLS (``contour.py:95-110``):
    mse_resid = SSR / (n - 2). n == 1 → slope 0.0 (pinv least-norm);
    n < 1 → all nan; mse_resid nan when n < 3.

    Deliberately computed from RAW sums (Σx, Σy, Σxy, Σxx, Σyy) rather
    than centered sums: for integer-valued series (the contour is one —
    integer start + ±1 steps) every Σ is an exact integer in float64, so
    the result is independent of accumulation order and bit-identical to
    any other engine (Spark aggregates, the DuckDB oracle) that evaluates
    the same expression shape:

        slope = (n·Σxy − Σx·Σy) / (n·Σxx − (Σx)²)
        mse   = (n·Σyy − (Σy)² − (n·Σxy − Σx·Σy)² / (n·Σxx − (Σx)²))
                / (n·(n−2))

    DuckDB's ``regr_*`` streaming-float aggregates are accumulation-order
    nondeterministic at the last ulp, which flipped values on .xxxxxx5
    rounding boundaries run-to-run (CORRECTNESS_r02 feature_families).
    """
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    if n == 0:
        return (math.nan, math.nan, math.nan)
    if n == 1:
        return (float(y[0]), 0.0, math.nan)
    x = np.arange(n, dtype=np.float64)
    sx = float(x.sum())
    sy = float(y.sum())
    sxy = float((x * y).sum())
    sxx = float((x * x).sum())
    syy = float((y * y).sum())
    sxx_n = n * sxx - sx * sx  # n·Sxx, exact for integer series
    sxy_n = n * sxy - sx * sy
    syy_n = n * syy - sy * sy
    slope = sxy_n / sxx_n
    intercept = (sy - slope * sx) / n
    mse = (
        (syy_n - sxy_n * sxy_n / sxx_n) / (n * (n - 2))
        if n > 2
        else math.nan
    )
    return (intercept, slope, mse)


def local_extremes(c: np.ndarray, window: int = EXTREMES_WINDOW, maxima: bool = True) -> np.ndarray:
    """Indices of local extremes with plateau dedup (``contour.py:113-148``):
    i is extreme iff c[i] >=(<=) every value within ``window`` on each
    existing side; consecutive extreme indices collapse to the first."""
    c = np.asarray(c, dtype=np.float64)
    n = len(c)
    if n == 0:
        return np.array([], dtype=np.int64)
    pad = np.inf if not maxima else -np.inf
    padded = np.concatenate([np.full(window, pad), c, np.full(window, pad)])
    sw = np.lib.stride_tricks.sliding_window_view(padded, window)
    # sw[i] = padded[i:i+window]; left neighborhood of c-index i = padded[i:i+window]
    if maxima:
        left = sw[:n].max(axis=1)
        right = sw[window + 1 : window + 1 + n].max(axis=1)
        ok_left = c >= left
        ok_right = c >= right
    else:
        left = sw[:n].min(axis=1)
        right = sw[window + 1 : window + 1 + n].min(axis=1)
        ok_left = c <= left
        ok_right = c <= right
    ok_left[0] = True  # no left neighborhood at i=0 (contour.py:131)
    ok_right[n - 1] = True  # no right neighborhood at i=n-1 (contour.py:136)
    is_ext = ok_left & ok_right
    keep = is_ext & ~np.concatenate([[False], is_ext[:-1]])
    return np.flatnonzero(keep)


def _seg_slopes_vec(
    p: np.ndarray, q: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Vectorized segment OLS slopes over [a, b) via the shared prefix
    sums — elementwise the same IEEE op sequence as the scalar form
    (sy = P(b)−P(a); slope = ((Q(b)−Q(a)) − a·sy − (m−1)/2·sy) /
    (m(m²−1)/12)), so results are bit-identical."""
    m = b - a
    sy = p[b] - p[a]
    sxy_raw = (q[b] - q[a]) - a * sy
    xbar = (m - 1) / 2.0
    with np.errstate(divide="ignore", invalid="ignore"):
        sxx = m * (m * m - 1) / 12.0
        out = (sxy_raw - xbar * sy) / sxx
    out = np.where(m == 1, 0.0, out)
    return np.where(m <= 0, math.nan, out)


def local_slopes(
    c: np.ndarray, extremes: np.ndarray, distance: int = SLOPE_DISTANCE
) -> tuple[np.ndarray, np.ndarray]:
    """OLS slopes of the contour strictly left/right of each extreme
    (``contour.py:151-173``). O(1) per extreme via prefix sums,
    vectorized across extremes."""
    c = np.asarray(c, dtype=np.float64)
    n = len(c)
    p = np.concatenate([[0.0], np.cumsum(c)])
    q = np.concatenate([[0.0], np.cumsum(np.arange(n, dtype=np.float64) * c)])
    e = np.asarray(extremes, dtype=np.int64)
    le = e[e > 0]
    lefts = _seg_slopes_vec(p, q, np.maximum(le - distance, 0), le)
    re = e[e < n - 1]
    rights = _seg_slopes_vec(p, q, re + 1, np.minimum(n, re + 1 + distance))
    return lefts, rights


def contour_features(raw: np.ndarray) -> dict[str, float]:
    """The 8-feature contour family (``contour.py:30-63``) over a gap-free
    raw series. Keys unprefixed; caller adds lc_/uc_."""
    nan8 = {
        "slant": math.nan,
        "slant_mse": math.nan,
        "local_max_freq": math.nan,
        "local_min_freq": math.nan,
        "max_slopes_left_avg": math.nan,
        "max_slopes_right_avg": math.nan,
        "min_slopes_left_avg": math.nan,
        "min_slopes_right_avg": math.nan,
    }
    raw = np.asarray(raw, dtype=np.float64)
    if len(raw) == 0:
        return nan8
    c = characteristic_contour(raw)
    _, slant, slant_mse = ols_fit(c)
    maxima = local_extremes(c, EXTREMES_WINDOW, True)
    minima = local_extremes(c, EXTREMES_WINDOW, False)
    max_l, max_r = local_slopes(c, maxima, SLOPE_DISTANCE)
    min_l, min_r = local_slopes(c, minima, SLOPE_DISTANCE)

    def avg(a: np.ndarray) -> float:
        return float(a.mean()) if len(a) else math.nan  # np.average([]) → nan policy

    return {
        "slant": slant,
        "slant_mse": slant_mse,
        "local_max_freq": len(maxima) / len(c),
        "local_min_freq": len(minima) / len(c),
        "max_slopes_left_avg": avg(max_l),
        "max_slopes_right_avg": avg(max_r),
        "min_slopes_left_avg": avg(min_l),
        "min_slopes_right_avg": avg(min_r),
    }


# ---------------------------------------------------------------------------
# slantness / drift scoring (reference slantness.py:20-64, SURVEY.md A8-A9+W7)
# ---------------------------------------------------------------------------


def slantness(
    c: np.ndarray, n_angles: int = SLANT_N_ANGLES, window: int = SLANT_WINDOW
) -> tuple[float, float, float]:
    """(max_angle, avg_angle, stdev_angle) in degrees.

    Transposition of the probe-line sweep: each length-``window`` drift of
    the contour votes for the angle bin θ = π/2 - arctan(drift/window),
    quantized to the reference's 39 angle steps θ_i = i·π/40
    (``slantness.py:26-27``). The aggregate stage reproduces
    ``slantness.py:47-51`` exactly: score-weighted sample → sample stdev
    (ddof=1), mean mapped through 180 - degrees, argmax with first-tie-wins,
    all rounded to 1 decimal.
    """
    c = np.asarray(c, dtype=np.float64)
    step = math.pi / n_angles
    if len(c) > window:
        drift = c[window:] - c[:-window]
        theta = math.pi / 2.0 - np.arctan(drift / float(window))
        bins = np.clip(np.round(theta / step), 1, n_angles - 1).astype(np.int64)
    else:
        bins = np.array([], dtype=np.int64)

    score = np.zeros(n_angles, dtype=np.int64)
    if len(bins):
        np.add.at(score, bins, 1)

    # weighted mean/variance factored over EXACT integer bin sums
    # (S = Σ bin·score, Q = Σ bin²·score): angle = bin·step, so
    # mean = step·S/n and Σ score·(angle−mean)² = step²·(Q − S²/n).
    # Mathematically identical to summing float angles, but every
    # intermediate is an exact integer — the SQL oracle reproduces the
    # same doubles bit-for-bit regardless of aggregation order (float
    # angle sums are order-dependent in the last ulp, which flips values
    # sitting exactly on the 1-decimal rounding boundary).
    bin_idx = np.arange(n_angles, dtype=np.int64)
    sample_n = int(score[1:].sum())
    S = int((bin_idx[1:] * score[1:]).sum())
    Q = int((bin_idx[1:] * bin_idx[1:] * score[1:]).sum())
    if sample_n >= 1:
        mean = step * S / sample_n
        avg_angle = float(np.round(180.0 - math.degrees(mean), 1))
    else:
        avg_angle = 0.0
    if sample_n > 1:
        wsq = (step * step) * (Q - S * S / sample_n)
        stdev = math.sqrt(max(wsq, 0.0) / (sample_n - 1))
        stdev_angle = float(np.round(math.degrees(stdev), 1))
    else:
        stdev_angle = 0.0
    max_i = 1 + int(np.argmax(score[1:]))  # first max in angle order (slantness.py:50)
    max_angle = float(np.round(180.0 - math.degrees(max_i * step), 1))
    return (max_angle, avg_angle, stdev_angle)
