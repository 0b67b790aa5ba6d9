"""Property-based invariants (hypothesis) for the point-in-time core.

Randomized adversarial inputs — duplicate timestamps, empty sides, single
mega-key skew, out-of-order rows — against the two invariants the north
rule names: zero temporal leakage, and salted physical variants computing
the same relation as their plain forms.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from featureextraction_spark.operators.asof import asof_join, asof_join_salted
from featureextraction_spark.operators.sessionize import sessionize, sessionize_salted

EPOCH = dt.datetime(2024, 1, 1)


def _events(spark, rows):
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{u}" for u, _, _ in rows],
            "turn_idx": [i for _, i, _ in rows],
            "ts": [EPOCH + dt.timedelta(seconds=s) for _, _, s in rows],
            "value": [float(i) for _, i, _ in rows],
        }
    )
    return spark.createDataFrame(pdf)


row_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # conv key (skewed, few keys)
        st.integers(min_value=0, max_value=50),     # turn idx (tie-break)
        st.integers(min_value=0, max_value=100000), # ts seconds (dups likely)
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda r: (r[0], r[1]),
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=row_strategy, probes=row_strategy)
@example(
    # two identical probe rows, a probe before the first turn, one at a
    # data row's ts, and one four empty 3600 s buckets after the last row
    data=[(0, 0, 7200), (0, 1, 7300), (0, 2, 9000)],
    probes=[(0, 5, 8000), (0, 5, 8000), (0, 6, 100), (0, 7, 7300), (0, 8, 27000)],
)
def test_asof_never_leaks_and_salted_equal(spark, data, probes):
    d = _events(spark, data)
    p = _events(spark, probes).select("conv_id", "turn_idx", "ts")
    out = asof_join(
        p, d, on="ts", by="conv_id", tie="turn_idx", value_cols=["value"],
        matched_cols=True,
    )
    pdf = out.toPandas()
    assert len(pdf) == len(probes)  # one probe row out per probe row in
    # zero temporal leakage: every matched ts is <= its probe ts
    m = pdf.dropna(subset=["matched_ts"])
    assert (m["matched_ts"] <= m["ts"]).all()

    salted = asof_join_salted(
        p, d, on="ts", by="conv_id", tie="turn_idx", value_cols=["value"],
        matched_cols=True, bucket_seconds=3600,
    ).toPandas()
    key = ["conv_id", "turn_idx", "ts"]
    a = pdf.sort_values(key).reset_index(drop=True)
    b = salted.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    for c in a.columns:
        pd.testing.assert_series_equal(a[c], b[c], check_names=False)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=row_strategy)
def test_sessionize_salted_equals_plain(spark, data):
    d = _events(spark, data)
    plain = sessionize(
        d, key="conv_id", ts="ts", tie="turn_idx", gap_seconds=1800
    ).select("conv_id", "turn_idx", "session_id").toPandas()
    salted = sessionize_salted(
        d, key="conv_id", ts="ts", tie="turn_idx", gap_seconds=1800,
        bucket_seconds=3600,
    ).select("conv_id", "turn_idx", "session_id").toPandas()
    key = ["conv_id", "turn_idx"]
    a = plain.sort_values(key).reset_index(drop=True)
    b = salted.sort_values(key).reset_index(drop=True)
    assert list(a["session_id"]) == list(b["session_id"])
