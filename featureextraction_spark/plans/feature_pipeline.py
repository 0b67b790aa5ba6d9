"""Point-in-time feature pipeline (FIXTURES.md §3, SURVEY.md §7 step 6).

Produces one wide feature row per probe ``(conv_id, ts)``, computed over the
leakage-free prefix ``ts' <= ts`` of that conversation:

- relational half (pure DataFrame windows, ONE sort per conversation):
  session_id (W6), turn_count, prev_role (W11), last_tool (W12),
  role_transitions (A7) — computed per turn, read at the probe's matched
  turn;
- numeric half (Arrow-vectorized ``mapInPandas`` over conv_id buckets):
  the reference's five feature families transposed onto per-conversation
  series (``functions/series_kernels.py``) — zones, median width, lc/uc
  contour, slantness.

Scale design: the only shuffle key is ``conv_id`` (state and probe sides);
``text`` is pruned to two small numeric columns (n_chars, n_tokens) before
the Arrow exchange, so a mega-conversation ships kilobytes per turn, not
its transcript. Probes are deduplicated on (conv_id, ts) — the vector is a
pure function of that pair.

Stage sizing: rows are hash-partitioned into buckets of whole
conversations, one pandas call per bucket (``point_in_time_features``).
The bucket count follows the state side's size as the optimizer estimates
it, never below the cluster's cores.

Probe-density cost: the stage runs the prefix-cumulative kernel
(``compute_probe_features_dense``). It builds each conversation's state
once and evaluates most families per probe in O(1) or in small batches;
median width still scans each distinct prefix, so probing every turn of an
n-turn conversation costs O(n²) in that family alone.
``compute_probe_features`` is the per-prefix reference it is tested
against, bit for bit.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from featureextraction_spark.functions import series_kernels as K
from featureextraction_spark.operators.backfill import forward_fill
from featureextraction_spark.operators.sessionize import sessionize
from featureextraction_spark.operators.transitions import running_transitions

# ASCII-whitespace tokenization, identical semantics in Spark regex (engine)
# and Python re (oracle): tokens = maximal runs of non-whitespace.
TOKEN_REGEX = "[^ \\t\\n\\r\\f\\u000B]+"

NUMERIC_FEATURES = [
    "upper_zone", "middle_zone", "lower_zone",
    "median_width",
    "lc_slant", "lc_slant_mse", "lc_local_max_freq", "lc_local_min_freq",
    "lc_max_slopes_left_avg", "lc_max_slopes_right_avg",
    "lc_min_slopes_left_avg", "lc_min_slopes_right_avg",
    "uc_slant", "uc_slant_mse", "uc_local_max_freq", "uc_local_min_freq",
    "uc_max_slopes_left_avg", "uc_max_slopes_right_avg",
    "uc_min_slopes_left_avg", "uc_min_slopes_right_avg",
    "slantness_max_angle", "slantness_avg_angle", "slantness_stdev_angle",
]

# the turn_state columns the feature kernel reads
STATE_COLS = [
    "conv_id", "turn_idx", "ts", "n_chars", "n_tokens",
    "session_id", "prev_role", "last_tool", "role_transitions",
]

# the feature stage's output columns, in order; the kernels emit the
# integer ones as nullable Int64
FEATURE_COLS = [
    "conv_id", "ts", "session_id", "turn_count",
    *NUMERIC_FEATURES,
    "prev_role", "last_tool", "role_transitions",
]
_INT_COLS = ("session_id", "turn_count", "role_transitions")
# the columns after (conv_id, ts) of a probe with no turn at or before it
_EMPTY_STATE = [None, 0, *[math.nan] * len(NUMERIC_FEATURES), None, None, None]


def token_count_col(text):
    """Whitespace token count = number of maximal non-whitespace runs;
    empty/blank text → 0 (a 'gap' for the uc series, reference analog:
    column with no black pixels, W2)."""
    return F.regexp_count(text, F.lit(TOKEN_REGEX)).cast("double")


def turn_state(
    transcripts: DataFrame, gap_seconds: int = 1800
) -> DataFrame:
    """Per-turn relational state — all five window features share the single
    (conv_id / ts, turn_idx) sort, so Catalyst plans one exchange + one sort.
    A null ``text`` counts as empty: 0 chars, 0 tokens."""
    text = F.coalesce(F.col("text"), F.lit(""))
    d = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        F.length(text).cast("double").alias("n_chars"),
        token_count_col(text).alias("n_tokens"),
    )
    d = sessionize(d, key="conv_id", ts="ts", tie="turn_idx", gap_seconds=gap_seconds)
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    d = d.withColumn("prev_role", F.lag("role").over(w))
    d = d.withColumn("turn_count", F.row_number().over(w).cast("long"))
    d = forward_fill(d, ["tool"], key="conv_id", order=("ts", "turn_idx"), prefix="last_")
    d = running_transitions(d, "role", key="conv_id", order=("ts", "turn_idx"))
    return d


def _feature_schema(probe_ts_type: T.DataType) -> T.StructType:
    types = {
        "ts": probe_ts_type,
        **dict.fromkeys(_INT_COLS, T.LongType()),
        **dict.fromkeys(NUMERIC_FEATURES, T.DoubleType()),
    }
    return T.StructType(
        [T.StructField(c, types.get(c, T.StringType())) for c in FEATURE_COLS]
    )


def _turn_arrays(state_pdf: pd.DataFrame) -> tuple:
    """One conversation's turns in (ts, turn_idx) order: the ts, n_chars
    and n_tokens arrays the kernels scan, and the state arrays ``_row``
    reads."""
    st = state_pdf.sort_values(["ts", "turn_idx"], kind="mergesort")
    return (
        st["ts"].to_numpy(dtype="datetime64[ns]"),
        st["n_chars"].to_numpy(dtype=np.float64),
        st["n_tokens"].to_numpy(dtype=np.float64),
        (st["session_id"].to_numpy(), st["prev_role"].to_numpy(dtype=object),
         st["last_tool"].to_numpy(dtype=object), st["role_transitions"].to_numpy()),
    )


def _row(conv_id, probe_ts, k: int, state: tuple, numeric: list) -> list:
    """Output row (``FEATURE_COLS`` order) of a probe whose prefix is the
    first ``k >= 1`` turns."""
    sess, prev_role, last_tool, transitions = state
    return [
        conv_id, probe_ts, int(sess[k - 1]), k,
        *numeric,
        prev_role[k - 1], last_tool[k - 1], int(transitions[k - 1]),
    ]


def _frame(rows: list) -> pd.DataFrame:
    out = pd.DataFrame(rows, columns=FEATURE_COLS)
    for c in _INT_COLS:
        out[c] = out[c].astype("Int64")
    return out


def compute_probe_features(
    state_pdf: pd.DataFrame,
    probes_pdf: pd.DataFrame,
) -> pd.DataFrame:
    """Numeric+state features for one conversation's probes (pandas batch),
    every family evaluated from scratch on each probe's prefix.

    The per-prefix reference: ``point_in_time_features`` runs
    :func:`compute_probe_features_dense`, which the tests and ``perfbench``
    check against this function bit for bit.
    """
    if len(probes_pdf) == 0:
        return pd.DataFrame(columns=FEATURE_COLS)
    out_rows = []
    ts_arr, n_chars, n_tokens, state = _turn_arrays(state_pdf)
    for probe in probes_pdf.itertuples(index=False):
        conv_id, probe_ts = probe.conv_id, probe.ts
        k = int(np.searchsorted(ts_arr, np.datetime64(probe_ts, "ns"), side="right"))
        if k == 0:
            out_rows.append([conv_id, probe_ts, *_EMPTY_STATE])
            continue
        s = n_chars[:k]
        lc_raw = s[s > 0]
        uc_pref = n_tokens[:k]
        uc_raw = uc_pref[uc_pref > 0]

        z1, z2, z3 = K.zones(s)
        mw = K.median_width(s)
        lc = K.contour_features(lc_raw)
        uc = K.contour_features(uc_raw)
        sl_max, sl_avg, sl_std = K.slantness(K.characteristic_contour(lc_raw))

        out_rows.append(
            _row(conv_id, probe_ts, k, state, [
                z1, z2, z3, mw,
                lc["slant"], lc["slant_mse"], lc["local_max_freq"], lc["local_min_freq"],
                lc["max_slopes_left_avg"], lc["max_slopes_right_avg"],
                lc["min_slopes_left_avg"], lc["min_slopes_right_avg"],
                uc["slant"], uc["slant_mse"], uc["local_max_freq"], uc["local_min_freq"],
                uc["max_slopes_left_avg"], uc["max_slopes_right_avg"],
                uc["min_slopes_left_avg"], uc["min_slopes_right_avg"],
                sl_max, sl_avg, sl_std,
            ])
        )
    return _frame(out_rows)


def compute_probe_features_dense(
    state_pdf: pd.DataFrame,
    probes_pdf: pd.DataFrame,
) -> pd.DataFrame:
    """Row-equal fast path of :func:`compute_probe_features` for DENSE
    probing (many probes per conversation).

    The per-prefix kernel re-evaluates every family from scratch per
    probe — O(p·n) with dozens of numpy calls on tiny arrays per probe.
    Here the per-conversation state is computed ONCE and probes are
    evaluated either in O(1) or in vectorized batches ACROSS probes:

    - contour OLS (lc + uc): the clamped walk ``rw`` is prefix-stable
      (step j only reads j-1), and the clamp offset ``min(0, min(rw))``
      shifts every point equally — Σc, Σxc, Σc² over any prefix are O(1)
      combinations of prefix sums of ``rw``, ``x·rw``, ``rw²`` and the
      running minimum; exact integers through the same closed-form
      expression sequence as ``ols_fit`` → bit-identical.
    - extremes + local slopes: comparisons and the seg-slope numerator
      are exactly shift-invariant (integer arithmetic), so extreme
      status, plateau dedup, and both slopes are precomputed once on the
      FULL ``rw`` series; only the trailing ``max(window, distance)``
      indices of each prefix can differ and are re-evaluated for ALL
      probes at once in small 2-D batches. Per-probe slope averages
      np.mean the ordered [stable slice ++ tail] values — the same
      values in the same order as the per-prefix kernel → bit-identical.
    - slantness: drifts ``c[j+8]−c[j] = rw[j+8]−rw[j]`` (clamp cancels);
      S/Q are prefix sums of bin/bin², and the argmax histogram is
      maintained incrementally over probes sorted by prefix length.
    - zones: the prefix histogram is an O(bins) slice of one shared
      cumulative sum, feeding the unchanged grid argmin.
    - median width is inherently per-probe (whiteness flips with the
      prefix mean) and reuses the exact kernel.
    """
    if len(probes_pdf) == 0:
        return pd.DataFrame(columns=FEATURE_COLS)
    ts_arr, n_chars, n_tokens, state = _turn_arrays(state_pdf)

    cs = np.concatenate([[0.0], np.cumsum(n_chars)])

    probes = probes_pdf
    conv_ids = probes["conv_id"].to_numpy(dtype=object)
    ts_vals = probes["ts"].to_numpy()
    kk = np.searchsorted(
        ts_arr, probes["ts"].to_numpy(dtype="datetime64[ns]"), side="right"
    )
    order = np.argsort(kk, kind="mergesort")

    lc = _DenseSeries(n_chars)
    uc = _DenseSeries(n_tokens)
    m_lc_all = lc.prefix_len(kk)
    m_uc_all = uc.prefix_len(kk)
    lc_tails = lc.tail_batch(m_lc_all)
    uc_tails = uc.tail_batch(m_uc_all)

    # zones + median width depend on k alone — evaluate once per distinct
    # prefix length. Scalar per-k grid argmin with the cached (lb, ub) grid
    # beats a (probes × grid) matrix formulation ~20×: the per-call arrays
    # are cache-resident while the batch thrashes on (P, ~h²) temporaries.
    # The prefix histogram is an O(bins) slice of the shared cumulative sum
    # (same partial sums ⇒ same floats as zones_histogram(s[:k])).
    uniq_k = np.unique(kk[kk > 0])
    H = K.ZONES_MAX_HIST
    hist_edges = np.arange(H + 1)
    zmap: dict[int, tuple[float, float, float]] = {}
    for kv in uniq_k:
        k = int(kv)
        if k <= H:
            hist = n_chars[:k]
        else:
            edges = (hist_edges * k) // H
            hist = cs[edges[1:]] - cs[edges[:-1]]
        zmap[k] = K.zones_from_hist(hist)
    mwmap = {int(kv): K.median_width(n_chars[: int(kv)]) for kv in uniq_k}

    # slantness vote substrate over the lc walk (clamp cancels in drifts)
    sw = K.SLANT_WINDOW
    if len(lc.rw) > sw:
        drift = lc.rw[sw:] - lc.rw[:-sw]
        theta = math.pi / 2.0 - np.arctan(drift / float(sw))
        bins = np.clip(
            np.round(theta / (math.pi / K.SLANT_N_ANGLES)), 1, K.SLANT_N_ANGLES - 1
        ).astype(np.int64)
    else:
        bins = np.array([], dtype=np.int64)
    sb = np.concatenate([[0], np.cumsum(bins)])
    qb = np.concatenate([[0], np.cumsum(bins * bins)])
    score = np.zeros(K.SLANT_N_ANGLES, dtype=np.int64)
    voted = 0
    step = math.pi / K.SLANT_N_ANGLES

    out_rows: list = [None] * len(probes)

    for oi in order:
        k = int(kk[oi])
        conv_id, probe_ts = conv_ids[oi], ts_vals[oi]
        if k == 0:
            out_rows[oi] = [conv_id, probe_ts, *_EMPTY_STATE]
            continue

        z1, z2, z3 = zmap[k]
        mw = mwmap[k]

        lc_feats = lc.contour_feats(int(m_lc_all[oi]), lc_tails, oi)
        uc_feats = uc.contour_feats(int(m_uc_all[oi]), uc_tails, oi)

        # slantness from prefix vote sums + incremental argmax histogram
        nv = max(int(m_lc_all[oi]) - sw, 0)
        if nv >= 1:
            while voted < nv:
                score[bins[voted]] += 1
                voted += 1
            S, Q = int(sb[nv]), int(qb[nv])
            mean = step * S / nv
            sl_avg = float(np.round(180.0 - math.degrees(mean), 1))
            if nv > 1:
                wsq = (step * step) * (Q - S * S / nv)
                sl_std = float(
                    np.round(math.degrees(math.sqrt(max(wsq, 0.0) / (nv - 1))), 1)
                )
            else:
                sl_std = 0.0
            max_i = 1 + int(np.argmax(score[1:]))
        else:
            sl_avg, sl_std, max_i = 0.0, 0.0, 1
        sl_max = float(np.round(180.0 - math.degrees(max_i * step), 1))

        out_rows[oi] = _row(conv_id, probe_ts, k, state, [
            z1, z2, z3, mw, *lc_feats, *uc_feats, sl_max, sl_avg, sl_std,
        ])
    return _frame(out_rows)


class _DenseSeries:
    """Per-conversation precomputed contour state for one gap-free series
    (see ``compute_probe_features_dense`` for the invariants that make
    full-series precomputation valid for every prefix)."""

    def __init__(self, s: np.ndarray):
        window, distance = K.EXTREMES_WINDOW, K.SLOPE_DISTANCE
        self.window, self.distance = window, distance
        self.tail_w = max(window, distance)
        self.mask_cum = np.concatenate([[0], np.cumsum(s > 0)])
        vals = s[s > 0]
        M = len(vals)
        self.M = M
        if M == 0:
            self.rw = np.array([], dtype=np.float64)
            return
        steps = np.sign(np.diff(vals))
        rw = vals[0] + np.concatenate([[0.0], np.cumsum(steps)])
        self.rw = rw
        self.runmin = np.minimum.accumulate(rw)
        x = np.arange(M, dtype=np.float64)
        self.p1 = np.concatenate([[0.0], np.cumsum(rw)])
        self.px = np.concatenate([[0.0], np.cumsum(x * rw)])
        self.p2 = np.concatenate([[0.0], np.cumsum(rw * rw)])

        # full-series extreme machinery on rw (shift-invariant):
        # left-window aggregates are prefix-stable; right-window/full
        # values are valid for indices <= m-1-window of any prefix m
        pad_lo, pad_hi = -np.inf, np.inf
        padded_max = np.concatenate([np.full(window, pad_lo), rw, np.full(window, pad_lo)])
        padded_min = np.concatenate([np.full(window, pad_hi), rw, np.full(window, pad_hi)])
        swv = np.lib.stride_tricks.sliding_window_view
        wmax, wmin = swv(padded_max, window), swv(padded_min, window)
        self.okl_max = rw >= wmax[:M].max(axis=1)
        self.okr_max_full = rw >= wmax[window + 1 : window + 1 + M].max(axis=1)
        self.okl_min = rw <= wmin[:M].min(axis=1)
        self.okr_min_full = rw <= wmin[window + 1 : window + 1 + M].min(axis=1)
        self.okl_max[0] = self.okl_min[0] = True
        self.okr_max_full[M - 1] = self.okr_min_full[M - 1] = True
        is_max = self.okl_max & self.okr_max_full
        is_min = self.okl_min & self.okr_min_full
        self.is_max_full, self.is_min_full = is_max, is_min
        keep_max = is_max & ~np.concatenate([[False], is_max[:-1]])
        keep_min = is_min & ~np.concatenate([[False], is_min[:-1]])

        # kept-extreme indices and their slopes, in extreme order; a
        # prefix's stable extremes are a contiguous leading slice
        idx = np.arange(M, dtype=np.int64)
        self.kept_max_idx = idx[keep_max]
        self.kept_min_idx = idx[keep_min]

        def slopes_for(kept: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
            le = kept[kept > 0]
            lefts = K._seg_slopes_vec(
                self.p1, self.px, np.maximum(le - distance, 0), le
            )
            re = kept[kept < M - 1]
            rights = K._seg_slopes_vec(
                self.p1, self.px, re + 1, np.minimum(M, re + 1 + distance)
            )
            return lefts, rights

        # aligned to kept_*_idx restricted to e>0 / e<M-1 respectively
        self.L_max, self.R_max_full = slopes_for(self.kept_max_idx)
        self.L_min, self.R_min_full = slopes_for(self.kept_min_idx)
        self.kept_max_left_idx = self.kept_max_idx[self.kept_max_idx > 0]
        self.kept_min_left_idx = self.kept_min_idx[self.kept_min_idx > 0]
        self.kept_max_right_idx = self.kept_max_idx[self.kept_max_idx < M - 1]
        self.kept_min_right_idx = self.kept_min_idx[self.kept_min_idx < M - 1]

    def prefix_len(self, kk: np.ndarray) -> np.ndarray:
        """m(k) per probe: positive elements among the first k raw turns."""
        return self.mask_cum[np.asarray(kk, dtype=np.int64)]

    def tail_batch(self, m_all: np.ndarray) -> dict:
        """Vectorized re-evaluation of the last ``tail_w`` indices of every
        probe's prefix (the only region whose extreme status / right slope
        can differ from the full-series precompute)."""
        if self.M == 0:
            return {}
        T = self.tail_w
        W = self.window
        m = np.asarray(m_all, dtype=np.int64)
        P = len(m)
        rw, M = self.rw, self.M
        # tail index matrix: columns j -> index m - T + j (masked to
        # [max(0, m-T), m) )
        ti = m[:, None] - T + np.arange(T)[None, :]
        in_tail = (ti >= 0) & (ti < m[:, None]) & (m[:, None] > 0)
        tis = np.clip(ti, 0, max(M - 1, 0))
        vals = rw[tis]
        # right-neighborhood aggregates within the prefix: for tail index
        # i >= m - W the window rw[i+1 .. m-1] is a suffix of the tail row
        NEG, POS = -np.inf, np.inf
        vmax = np.where(in_tail, vals, NEG)
        vmin = np.where(in_tail, vals, POS)
        # suffix max/min EXCLUDING the element itself
        sufmax = np.concatenate(
            [np.maximum.accumulate(vmax[:, ::-1], axis=1)[:, ::-1][:, 1:],
             np.full((P, 1), NEG)], axis=1)
        sufmin = np.concatenate(
            [np.minimum.accumulate(vmin[:, ::-1], axis=1)[:, ::-1][:, 1:],
             np.full((P, 1), POS)], axis=1)
        last = ti == (m[:, None] - 1)
        # indices with i >= m - W use the in-prefix suffix; tail indices
        # with i < m - W (possible when T > W) keep their stable status
        needs_right = ti >= (m[:, None] - W)
        okr_max = last | (vals >= sufmax)
        okr_min = last | (vals <= sufmin)
        okr_max = np.where(needs_right, okr_max, self.okr_max_full[tis])
        okr_min = np.where(needs_right, okr_min, self.okr_min_full[tis])
        is_max = self.okl_max[tis] & okr_max & in_tail
        is_min = self.okl_min[tis] & okr_min & in_tail
        # plateau dedup: previous index status — inside the row for j>0,
        # from the stable full-series status for the first tail index
        prev_ti = np.clip(ti - 1, 0, max(M - 1, 0))
        prev_max = np.concatenate(
            [ (self.is_max_full[prev_ti[:, :1]] & (ti[:, :1] > 0)), is_max[:, :-1]], axis=1)
        prev_min = np.concatenate(
            [ (self.is_min_full[prev_ti[:, :1]] & (ti[:, :1] > 0)), is_min[:, :-1]], axis=1)
        keep_max = is_max & ~prev_max
        keep_min = is_min & ~prev_min
        # tail slopes, one vectorized call over every (probe, kept) pair
        D = self.distance
        out = {"ti": ti, "keep_max": keep_max, "keep_min": keep_min}
        for name, keep in (("max", keep_max), ("min", keep_min)):
            pidx, jidx = np.nonzero(keep)
            e = ti[pidx, jidx]
            me = m[pidx]
            has_l = e > 0
            lefts = np.full(len(e), np.nan)
            if has_l.any():
                el = e[has_l]
                lefts[has_l] = K._seg_slopes_vec(
                    self.p1, self.px, np.maximum(el - D, 0), el
                )
            has_r = e < me - 1
            rights = np.full(len(e), np.nan)
            if has_r.any():
                er, mr = e[has_r], me[has_r]
                rights[has_r] = K._seg_slopes_vec(
                    self.p1, self.px, er + 1, np.minimum(mr, er + 1 + D)
                )
            out[f"pidx_{name}"] = pidx
            out[f"lefts_{name}"] = lefts
            out[f"rights_{name}"] = rights
            out[f"has_l_{name}"] = has_l
            out[f"has_r_{name}"] = has_r
        # per-probe slices into the flattened tail-slope arrays
        for name in ("max", "min"):
            out[f"bounds_{name}"] = np.searchsorted(
                out[f"pidx_{name}"], np.arange(P + 1)
            )
        return out

    def contour_feats(self, m: int, tails: dict, oi: int) -> list[float]:
        """The 8 contour-family features for prefix length ``m`` — stable
        leading slice + this probe's tail, same values in the same order
        as the per-prefix kernel."""
        if m == 0:
            return [math.nan] * 8
        # OLS: exact-integer closed form, same sequence as ols_fit
        if m == 1:
            slant, slant_mse = 0.0, math.nan
        else:
            adj = min(0.0, self.runmin[m - 1])
            sy = self.p1[m] - m * adj
            sxy = self.px[m] - adj * (m * (m - 1) / 2.0)
            syy = self.p2[m] - 2.0 * adj * self.p1[m] + m * adj * adj
            sx = float(m * (m - 1) // 2)
            sxx = float((m - 1) * m * (2 * m - 1) // 6)
            sxx_n = m * sxx - sx * sx
            sxy_n = m * sxy - sx * sy
            syy_n = m * syy - sy * sy
            slant = sxy_n / sxx_n
            slant_mse = (
                (syy_n - sxy_n * sxy_n / sxx_n) / (m * (m - 2))
                if m > 2
                else math.nan
            )

        t_hi = m - self.tail_w  # stable extreme indices are < t_hi

        def family(name: str, kept_idx, left_idx, right_idx, L, Rf):
            ns = int(np.searchsorted(kept_idx, t_hi))
            lo, hi = tails[f"bounds_{name}"][oi], tails[f"bounds_{name}"][oi + 1]
            n_tail = hi - lo
            cnt = ns + n_tail
            nsl = int(np.searchsorted(left_idx, t_hi))
            nsr = int(np.searchsorted(right_idx, t_hi))
            tl = tails[f"lefts_{name}"][lo:hi]
            tl = tl[tails[f"has_l_{name}"][lo:hi]]
            tr = tails[f"rights_{name}"][lo:hi]
            tr = tr[tails[f"has_r_{name}"][lo:hi]]
            lefts = np.concatenate([L[:nsl], tl])
            rights = np.concatenate([Rf[:nsr], tr])
            lavg = float(lefts.mean()) if len(lefts) else math.nan
            ravg = float(rights.mean()) if len(rights) else math.nan
            return cnt, lavg, ravg

        cnt_max, ml, mr = family(
            "max", self.kept_max_idx, self.kept_max_left_idx,
            self.kept_max_right_idx, self.L_max, self.R_max_full,
        )
        cnt_min, nl, nr = family(
            "min", self.kept_min_idx, self.kept_min_left_idx,
            self.kept_min_right_idx, self.L_min, self.R_min_full,
        )
        return [
            slant, slant_mse,
            cnt_max / m, cnt_min / m,
            ml, mr, nl, nr,
        ]


# Target optimizer-estimated state bytes per feature bucket. A checkpointed
# (parquet) state estimates at its compressed file size, ~12 bytes per turn
# on the benchmark's state, so a 10^7-turn run_pipeline state plans ~115
# buckets of ~90k turns each.
BUCKET_BYTES = 1 << 20
# The most buckets the stage plans; unknown sizes (Long.MaxValue) get this.
MAX_BUCKETS = 256


def bucket_count(state: DataFrame) -> int:
    """Feature buckets for ``state`` (pruned to ``STATE_COLS``): one per
    ``BUCKET_BYTES`` of its optimizer size estimate, clamped to
    [cores, ``MAX_BUCKETS``].

    The estimate (``stats().sizeInBytes``) comes from the optimized plan
    and runs no Spark job.
    """
    size = state._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    cores = state.sparkSession.sparkContext.defaultParallelism
    return max(cores, min(-(-int(size) // BUCKET_BYTES), MAX_BUCKETS))


def point_in_time_features(
    transcripts: DataFrame,
    probes: DataFrame,
    gap_seconds: int = 1800,
    state: DataFrame | None = None,
    dense_probes: bool = False,
) -> DataFrame:
    """Full point-in-time vector at each distinct probe (conv_id, ts).

    ``state``: a precomputed ``turn_state`` output (e.g. a checkpointed
    stage) — skips recomputing the window chain.

    ``next_role`` (lead) is deliberately ABSENT: it reads ts' > ts and is a
    training-label column, excluded from point-in-time vectors
    (FIXTURES.md §3).

    ``dense_probes`` is accepted and ignored: the stage always runs
    :func:`compute_probe_features_dense`.

    Physical shape: state rows and probe rows are unioned with a tag and
    hash-partitioned on ``conv_id`` into ``bucket_count(state)``
    partitions. Each partition is ONE Arrow stream and ONE pandas call over
    its conversations, not one per conversation: per-call Arrow/pandas
    overhead (~ms) dominates when conversations are small.
    """
    if state is None:
        state = turn_state(transcripts, gap_seconds)
    state = state.select(*STATE_COLS)
    probes_d = probes.select("conv_id", "ts").distinct()
    schema = _feature_schema(probes_d.schema["ts"].dataType)

    u = state.withColumn("__tag", F.lit(0)).unionByName(
        probes_d.withColumn("__tag", F.lit(1)), allowMissingColumns=True
    )

    def bucket_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = list(batches)
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        outs = []
        for _conv, g in pdf.groupby("conv_id", sort=False):
            probes_pdf = g.loc[g["__tag"] == 1, ["conv_id", "ts"]]
            if not len(probes_pdf):
                continue
            state_pdf = g.loc[g["__tag"] == 0, STATE_COLS]
            outs.append(compute_probe_features_dense(state_pdf, probes_pdf))
        if outs:
            yield pd.concat(outs, ignore_index=True)

    # EXPLICIT repartition, not a bare groupBy exchange: AQE sizes shuffle
    # partitions by BYTES and would coalesce this small-but-CPU-heavy stage
    # to 1-2 tasks (the kernel is ~1 ms/probe of numpy, not bytes). A fixed
    # repartition count is exempt from AQE coalescing, keeping every core's
    # Python worker busy. A conversation's rows all hash to one partition.
    return u.repartition(bucket_count(state), "conv_id").mapInPandas(
        bucket_kernel, schema=schema
    )
