"""Single-node oracle of the full point-in-time feature pipeline.

Pure pandas + the NAIVE reference-kernel transcriptions
(``reference_kernels.py``) — completely independent of the Spark engine's
vectorized kernels and distributed machinery. The engine must match this
via numpy.allclose (floats) / exact equality (ids, strings) — the
BASELINE.json correctness gate.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

from featureextraction_spark.oracle import reference_kernels as R
from featureextraction_spark.plans.feature_pipeline import NUMERIC_FEATURES

_TOKEN_RE = re.compile("[^ \t\n\r\f\x0b]+")


def _n_tokens(text: str) -> float:
    return float(len(_TOKEN_RE.findall(text)))


def point_in_time_features_oracle(
    transcripts: pd.DataFrame,
    probes: pd.DataFrame,
    gap_seconds: int = 1800,
) -> pd.DataFrame:
    t = transcripts.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(
        drop=True
    )
    text = t["text"].fillna("")  # a null text counts as empty
    t["n_chars"] = text.map(lambda x: float(len(x)))
    t["n_tokens"] = text.map(_n_tokens)
    gaps = t.groupby("conv_id", sort=False)["ts"].diff().dt.total_seconds()
    t["session_id"] = (
        (gaps.isna() | (gaps > gap_seconds)).groupby(t["conv_id"], sort=False).cumsum()
    )
    t["prev_role"] = t.groupby("conv_id", sort=False)["role"].shift(1)
    t["last_tool"] = t.groupby("conv_id", sort=False)["tool"].ffill()
    prev = t.groupby("conv_id", sort=False)["role"].shift(1)
    chg = prev.notna() & (t["role"] != prev)
    t["role_transitions"] = chg.groupby(t["conv_id"], sort=False).cumsum()

    probes_d = probes[["conv_id", "ts"]].drop_duplicates().reset_index(drop=True)

    rows = []
    grouped = {k: g for k, g in t.groupby("conv_id", sort=False)}
    for probe in probes_d.itertuples(index=False):
        g = grouped.get(probe.conv_id)
        if g is None:
            k = 0
        else:
            ts_arr = g["ts"].to_numpy(dtype="datetime64[ns]")
            k = int(np.searchsorted(ts_arr, np.datetime64(probe.ts, "ns"), side="right"))
        if k == 0:
            rows.append(
                {
                    "conv_id": probe.conv_id,
                    "ts": probe.ts,
                    "session_id": None,
                    "turn_count": 0,
                    **{c: math.nan for c in NUMERIC_FEATURES},
                    "prev_role": None,
                    "last_tool": None,
                    "role_transitions": None,
                }
            )
            continue
        pre = g.iloc[:k]
        s = pre["n_chars"].tolist()
        lc_raw = [v for v in s if v > 0]
        uc_raw = [v for v in pre["n_tokens"].tolist() if v > 0]

        z1, z2, z3 = R.zones_naive(s)
        mw = R.median_width_naive(s)
        lc = R.contour_features_naive(lc_raw)
        uc = R.contour_features_naive(uc_raw)
        sl_max, sl_avg, sl_std = R.slantness_naive(R.contour_naive(lc_raw))
        last = pre.iloc[-1]
        rows.append(
            {
                "conv_id": probe.conv_id,
                "ts": probe.ts,
                "session_id": int(last["session_id"]),
                "turn_count": k,
                "upper_zone": z1,
                "middle_zone": z2,
                "lower_zone": z3,
                "median_width": mw,
                **{f"lc_{key}": v for key, v in lc.items()},
                **{f"uc_{key}": v for key, v in uc.items()},
                "slantness_max_angle": sl_max,
                "slantness_avg_angle": sl_avg,
                "slantness_stdev_angle": sl_std,
                "prev_role": last["prev_role"] if pd.notna(last["prev_role"]) else None,
                "last_tool": last["last_tool"] if pd.notna(last["last_tool"]) else None,
                "role_transitions": int(last["role_transitions"]),
            }
        )
    return pd.DataFrame(rows)
