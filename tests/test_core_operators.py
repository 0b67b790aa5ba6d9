"""Oracle-diff tests: Spark operators vs single-node pandas oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd

from featureextraction_spark.operators import asof as asof_ops
from featureextraction_spark.operators.backfill import forward_fill, forward_fill_salted
from featureextraction_spark.operators.ordering import stable_order, with_lag_lead
from featureextraction_spark.operators.runlength import run_length_encode
from featureextraction_spark.operators.sessionize import sessionize, sessionize_salted
from featureextraction_spark.operators.transitions import running_transitions
from featureextraction_spark.oracle import pandas_oracle as oracle


def _collect(df) -> pd.DataFrame:
    return df.toPandas()


def _key(pdf, cols):
    return pdf.sort_values(cols, kind="mergesort").reset_index(drop=True)


def test_text_byte_equality_under_stable_order(spark, transcripts, transcripts_pdf):
    """Per-turn text byte-equal under stable (conv_id, turn_idx) ordering
    (BASELINE.json input_hint)."""
    got = stable_order(transcripts, "conv_id", "turn_idx").select(
        "conv_id", "turn_idx", "text"
    ).toPandas()
    exp = transcripts_pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")[
        ["conv_id", "turn_idx", "text"]
    ].reset_index(drop=True)
    # collected in partition-range order == global order after repartitionByRange+sortWithin
    assert list(got["text"]) == list(exp["text"])
    assert all(
        a.encode("utf-8") == b.encode("utf-8") for a, b in zip(got["text"], exp["text"])
    )


def test_lag_lead_matches_oracle(spark, transcripts, transcripts_pdf):
    got = _collect(
        with_lag_lead(transcripts, ["role"], order="turn_idx").select(
            "conv_id", "turn_idx", "prev_role", "next_role"
        )
    )
    exp = oracle.lag_lead(transcripts_pdf, ["role"])[
        ["conv_id", "turn_idx", "prev_role", "next_role"]
    ]
    g, e = _key(got, ["conv_id", "turn_idx"]), _key(exp, ["conv_id", "turn_idx"])
    assert list(g["prev_role"].fillna("∅")) == list(e["prev_role"].fillna("∅"))
    assert list(g["next_role"].fillna("∅")) == list(e["next_role"].fillna("∅"))


def test_sessionize_matches_oracle(spark, transcripts, transcripts_pdf):
    got = _key(
        _collect(sessionize(transcripts).select("conv_id", "turn_idx", "session_id")),
        ["conv_id", "turn_idx"],
    )
    exp = _key(
        oracle.sessionize(transcripts_pdf)[["conv_id", "turn_idx", "session_id"]],
        ["conv_id", "turn_idx"],
    )
    assert list(got["session_id"]) == list(exp["session_id"])


def test_sessionize_salted_equals_plain(spark, transcripts):
    plain = _key(
        _collect(sessionize(transcripts).select("conv_id", "turn_idx", "session_id")),
        ["conv_id", "turn_idx"],
    )
    for bucket in (3600, 86400):
        salted = _key(
            _collect(
                sessionize_salted(transcripts, bucket_seconds=bucket).select(
                    "conv_id", "turn_idx", "session_id"
                )
            ),
            ["conv_id", "turn_idx"],
        )
        assert list(plain["session_id"]) == list(salted["session_id"]), bucket


def test_forward_fill_matches_oracle(spark, transcripts, transcripts_pdf):
    got = _key(
        _collect(forward_fill(transcripts, ["tool"]).select("conv_id", "turn_idx", "last_tool")),
        ["conv_id", "turn_idx"],
    )
    exp = _key(
        oracle.forward_fill(transcripts_pdf, ["tool"])[["conv_id", "turn_idx", "last_tool"]],
        ["conv_id", "turn_idx"],
    )
    assert list(got["last_tool"].fillna("∅")) == list(exp["last_tool"].fillna("∅"))


def test_forward_fill_salted_equals_plain(spark, transcripts):
    plain = _key(
        _collect(forward_fill(transcripts, ["tool"]).select("conv_id", "turn_idx", "last_tool")),
        ["conv_id", "turn_idx"],
    )
    salted = _key(
        _collect(
            forward_fill_salted(transcripts, ["tool"], bucket_seconds=7200).select(
                "conv_id", "turn_idx", "last_tool"
            )
        ),
        ["conv_id", "turn_idx"],
    )
    assert list(plain["last_tool"].fillna("∅")) == list(salted["last_tool"].fillna("∅"))


def test_running_transitions_matches_oracle(spark, transcripts, transcripts_pdf):
    got = _key(
        _collect(
            running_transitions(transcripts, "role").select(
                "conv_id", "turn_idx", "role_transitions"
            )
        ),
        ["conv_id", "turn_idx"],
    )
    exp = _key(
        oracle.running_transitions(transcripts_pdf, "role")[
            ["conv_id", "turn_idx", "role_transitions"]
        ],
        ["conv_id", "turn_idx"],
    )
    assert list(got["role_transitions"]) == list(exp["role_transitions"])


def test_run_length_encode_matches_oracle(spark, transcripts, transcripts_pdf):
    got = _key(
        _collect(run_length_encode(transcripts, "role")),
        ["conv_id", "run_id"],
    )
    exp = _key(oracle.run_lengths(transcripts_pdf, "role"), ["conv_id", "run_id"])
    assert len(got) == len(exp)
    assert list(got["run_length"]) == list(exp["run_length"])
    assert list(got["run_value"].fillna("∅")) == list(exp["run_value"].fillna("∅"))
    assert list(got["run_start"]) == list(exp["run_start"])


def _check_asof(got: pd.DataFrame, exp: pd.DataFrame):
    g = _key(got, ["conv_id", "ts"])
    e = _key(exp, ["conv_id", "ts"])
    assert len(g) == len(e)
    for c in ("matched_ts", "matched_turn_idx", "role", "text"):
        ga = g[c].to_numpy(dtype=object)
        ea = e[c].to_numpy(dtype=object)
        same = [
            (pd.isna(x) and pd.isna(y)) or x == y for x, y in zip(ga, ea)
        ]
        assert all(same), f"{c}: first mismatch at {same.index(False)}"


def test_asof_join_matches_pandas_merge_asof(spark, transcripts, transcripts_pdf, probes, probes_pdf):
    got = _collect(
        asof_ops.asof_join(probes, transcripts, value_cols=["role", "text"])
    )
    exp = oracle.asof_join(probes_pdf, transcripts_pdf, value_cols=["role", "text"])
    _check_asof(got, exp)


def test_asof_join_strict_before(spark, transcripts, transcripts_pdf, probes, probes_pdf):
    got = _collect(
        asof_ops.asof_join(
            probes, transcripts, value_cols=["role", "text"], allow_exact_matches=False
        )
    )
    exp = oracle.asof_join(
        probes_pdf, transcripts_pdf, value_cols=["role", "text"], allow_exact_matches=False
    )
    _check_asof(got, exp)


def test_asof_join_salted_equals_plain(spark, transcripts, probes):
    for exact in (True, False):  # strict swaps the data/probe tags
        kw = dict(value_cols=["role", "text"], allow_exact_matches=exact)
        plain = _collect(asof_ops.asof_join(probes, transcripts, **kw))
        for bucket in (3600, 86400 * 7):
            salted = _collect(
                asof_ops.asof_join_salted(probes, transcripts, bucket_seconds=bucket, **kw)
            )
            _check_asof(salted, plain)


def test_asof_null_value_preserved(spark):
    """A matched data row with NULL value must yield NULL (not an older
    non-null row) — the struct-packing contract."""
    from datetime import datetime

    data = spark.createDataFrame(
        [("c", 0, "t0", datetime(2024, 1, 1, 0, 0, 0)),
         ("c", 1, None, datetime(2024, 1, 1, 0, 10, 0))],
        schema="conv_id string, turn_idx int, tool string, ts timestamp",
    )
    p = spark.createDataFrame(
        [("c", datetime(2024, 1, 1, 0, 15, 0))], schema="conv_id string, ts timestamp"
    )
    row = asof_ops.asof_join(p, data, value_cols=["tool"]).collect()[0]
    assert row["matched_turn_idx"] == 1
    assert row["tool"] is None


def test_asof_probe_before_first_turn_is_null(spark, transcripts, probes):
    got = _collect(asof_ops.asof_join(probes, transcripts, value_cols=["role"]))
    # datagen always emits one probe 1h before each conversation's first turn
    assert got["matched_ts"].isna().any()
    assert got.loc[got["matched_ts"].isna(), "role"].isna().all()


def test_zero_temporal_leakage(spark, transcripts, transcripts_pdf, probes_pdf):
    """Recompute the as-of result on the table truncated to ts' <= probe ts —
    must be identical (leakage-free by construction)."""
    sample = probes_pdf.sample(n=10, random_state=7)
    full = oracle.asof_join(sample, transcripts_pdf, value_cols=["role", "text"])
    for i, prow in enumerate(sample.itertuples(index=False)):
        trunc = transcripts_pdf[
            (transcripts_pdf["conv_id"] != prow.conv_id)
            | (transcripts_pdf["ts"] <= prow.ts)
        ]
        one = oracle.asof_join(
            pd.DataFrame([prow], columns=sample.columns), trunc, value_cols=["role", "text"]
        )
        for c in ("matched_ts", "role", "text"):
            a, b = full.iloc[i][c], one.iloc[0][c]
            assert (pd.isna(a) and pd.isna(b)) or a == b
