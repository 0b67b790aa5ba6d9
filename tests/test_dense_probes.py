"""Dense-probe fast path: ``compute_probe_features_dense`` must be
BIT-IDENTICAL to the per-prefix kernel ``compute_probe_features`` for every
probe set — it is the same contract evaluated from prefix-cumulative state
(VERDICT r2 item 5). Exact equality, not isclose: the dense path's claim is
that every family is either exact-integer arithmetic (contour OLS, slant
votes) or the very same op sequence (zones grid, median width, tail
extremes), so any drift is a bug."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as hst
from pyspark.sql import Window
from pyspark.sql import functions as F

from featureextraction_spark.plans.feature_pipeline import (
    NUMERIC_FEATURES,
    STATE_COLS,
    compute_probe_features,
    compute_probe_features_dense,
    point_in_time_features,
    turn_state,
)

_BASE_TS = np.datetime64("2025-01-01T00:00:00", "ns")


def _state(conv_id: str, n_chars, n_tokens=None) -> pd.DataFrame:
    n_chars = np.asarray(n_chars, dtype=np.float64)
    if n_tokens is None:
        n_tokens = np.maximum(n_chars // 4, np.minimum(n_chars, 1))
    n = len(n_chars)
    ts = _BASE_TS + np.arange(n) * np.timedelta64(60, "s")
    return pd.DataFrame(
        {
            "conv_id": conv_id,
            "ts": ts,
            "turn_idx": np.arange(n, dtype=np.int64),
            "n_chars": n_chars,
            "n_tokens": np.asarray(n_tokens, dtype=np.float64)[:n],
            "session_id": (np.arange(n) // 7 + 1).astype(np.int64),
            "prev_role": ([None] + ["user", "assistant"] * n)[:n],
            "last_tool": [None if i % 5 == 0 else f"t{i % 3}" for i in range(n)],
            "role_transitions": np.arange(n, dtype=np.int64) // 2,
        }
    )


def _dense_probes(state: pd.DataFrame) -> pd.DataFrame:
    """Every turn ts + one pre-first + one mid-gap + one post-last probe."""
    ts = state["ts"].to_numpy(dtype="datetime64[ns]")
    extra = np.array(
        [ts[0] - np.timedelta64(1, "s"),
         ts[len(ts) // 2] + np.timedelta64(1, "s"),
         ts[-1] + np.timedelta64(3600, "s")],
        dtype="datetime64[ns]",
    )
    allts = np.unique(np.concatenate([ts, extra]))
    return pd.DataFrame({"conv_id": state["conv_id"].iloc[0], "ts": allts})


def _assert_bit_equal(dense: pd.DataFrame, base: pd.DataFrame):
    key = ["conv_id", "ts"]
    d = dense.sort_values(key, kind="mergesort").reset_index(drop=True)
    b = base.sort_values(key, kind="mergesort").reset_index(drop=True)
    assert len(d) == len(b)
    assert list(d.columns) == list(b.columns)
    for c in NUMERIC_FEATURES:
        a1 = d[c].to_numpy(dtype=np.float64)
        a2 = b[c].to_numpy(dtype=np.float64)
        same = (a1 == a2) | (np.isnan(a1) & np.isnan(a2))
        assert same.all(), (
            f"{c}: {(~same).sum()} bit diffs, first at row "
            f"{int(np.argmax(~same))}: dense={a1[~same][:3]!r} "
            f"base={a2[~same][:3]!r}"
        )
    for c in ("session_id", "turn_count", "role_transitions"):
        assert d[c].astype("Int64").equals(b[c].astype("Int64")), c
    for c in ("prev_role", "last_tool"):
        assert list(d[c].fillna("∅")) == list(b[c].fillna("∅")), c


def _roundtrip(state: pd.DataFrame, probes: pd.DataFrame | None = None):
    probes = _dense_probes(state) if probes is None else probes
    dense = compute_probe_features_dense(state, probes)
    base = compute_probe_features(state, probes)
    _assert_bit_equal(dense, base)


SHAPES = {
    "empty_series": [0, 0, 0, 0, 0],
    "single": [7],
    "single_zero": [0],
    "constant_plateau": [5] * 40,
    "increasing": list(range(1, 60)),
    "decreasing": list(range(60, 1, -1)),
    "sawtooth": [3, 9, 3, 9, 3, 9, 3, 9, 3, 9, 3, 9, 3, 9],
    "zero_gaps": [4, 0, 6, 0, 0, 8, 1, 0, 2, 9, 0, 0, 0, 5, 7],
    "two_turns": [3, 8],
    "spiky": [1, 100, 1, 1, 100, 1, 50, 50, 50, 1, 100],
    "long_mixed": [(i * 37) % 23 for i in range(200)],
    "longer_than_hist_cap": [(i * 13) % 11 + (i % 7 == 0) * 40 for i in range(180)],
}


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_dense_equals_per_prefix_shapes(name):
    _roundtrip(_state(f"c_{name}", SHAPES[name]))


def test_dense_equals_per_prefix_adversarial_fixture(transcripts_pdf):
    """Every conversation of the adversarial fixture (mega-convs, ties,
    nulls, unicode), probed at every turn."""
    g = transcripts_pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
    for conv_id, conv in g.groupby("conv_id", sort=False):
        conv = conv.reset_index(drop=True)
        n = len(conv)
        text = conv["text"].fillna("")
        state = pd.DataFrame(
            {
                "conv_id": conv_id,
                "ts": conv["ts"],
                "turn_idx": conv["turn_idx"],
                "n_chars": text.str.len().astype(np.float64),
                "n_tokens": text.str.split().str.len().astype(np.float64),
                "session_id": (np.arange(n) // 9 + 1).astype(np.int64),
                "prev_role": conv["role"].shift(1),
                "last_tool": conv["tool"].ffill(),
                "role_transitions": np.arange(n, dtype=np.int64) // 3,
            }
        )
        _roundtrip(state)


@settings(max_examples=60, deadline=None)
@given(
    vals=hst.lists(hst.integers(min_value=0, max_value=50), min_size=1, max_size=120),
    probe_mask=hst.integers(min_value=1, max_value=2**30),
)
def test_dense_equals_per_prefix_property(vals, probe_mask):
    """Random nonneg integer series, random probe subset (bitmask over
    turns) — dense and per-prefix kernels agree bit-for-bit."""
    state = _state("h", vals)
    ts = state["ts"].to_numpy(dtype="datetime64[ns]")
    pick = [(probe_mask >> (i % 30)) & 1 == 1 for i in range(len(ts))]
    chosen = ts[np.array(pick, dtype=bool)] if any(pick) else ts[:1]
    probes = pd.DataFrame({"conv_id": "h", "ts": np.unique(chosen)})
    _roundtrip(state, probes)


def _last_turns(transcripts, n: int):
    w = Window.partitionBy("conv_id").orderBy(F.desc("ts"), F.desc("turn_idx"))
    return (
        transcripts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .select("conv_id", "ts")
    )


@pytest.mark.parametrize("probe_set", ["last_3_turns", "every_turn"])
def test_point_in_time_matches_per_prefix_reference(spark, transcripts, probe_set):
    """End-to-end Spark twin: the bucketed Arrow stage (dense kernel) must
    reproduce the per-prefix kernel run in-process per conversation on the
    same turn state — same rows, same bits — on the adversarial fixture
    (mega-conversations, ts ties, null tools)."""
    if probe_set == "every_turn":
        probes = transcripts.select("conv_id", "ts")
    else:
        probes = _last_turns(transcripts, 3)
    got = point_in_time_features(transcripts, probes).toPandas()

    state = turn_state(transcripts).select(*STATE_COLS).toPandas()
    probes_pdf = probes.distinct().toPandas()
    states = dict(tuple(state.groupby("conv_id", sort=False)))
    ref = pd.concat(
        [
            compute_probe_features(states[conv_id], conv_probes)
            for conv_id, conv_probes in probes_pdf.groupby("conv_id", sort=False)
        ],
        ignore_index=True,
    )
    key = ["conv_id", "ts"]
    assert (
        got[key].sort_values(key).reset_index(drop=True)
        .equals(ref[key].sort_values(key).reset_index(drop=True))
    )
    _assert_bit_equal(got, ref)


def test_dense_math_sanity():
    """Spot-check one dense value against an independent closed form:
    strictly increasing contour has slant exactly 1 turn/turn after the
    characteristic walk (steps all +1)."""
    state = _state("inc", list(range(1, 40)))
    probes = pd.DataFrame({"conv_id": "inc", "ts": state["ts"].iloc[-1:]})
    out = compute_probe_features_dense(state, probes)
    assert math.isclose(float(out["lc_slant"].iloc[0]), 1.0, abs_tol=1e-12)
