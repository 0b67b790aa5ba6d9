from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
import pytest

from featureextraction_spark.datagen import (
    make_query_points,
    make_splits,
    make_transcripts,
    to_spark,
)
from featureextraction_spark.plans.feature_pipeline import NUMERIC_FEATURES
from featureextraction_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="fex-tests",
        parallelism=4,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def transcripts_pdf() -> pd.DataFrame:
    # small but adversarial: 2 mega-conversations, ties, gaps, nulls, unicode
    return make_transcripts(n_conversations=25, mean_turns=12, seed=42, mega_factor=20)


@pytest.fixture(scope="session")
def transcripts(spark, transcripts_pdf):
    df = to_spark(spark, transcripts_pdf)
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="session")
def probes_pdf(transcripts_pdf) -> pd.DataFrame:
    return make_query_points(transcripts_pdf, per_conv=6, seed=43)


@pytest.fixture(scope="session")
def probes(spark, probes_pdf):
    return spark.createDataFrame(probes_pdf, schema="conv_id string, ts timestamp")


@pytest.fixture(scope="session")
def splits_pdf(transcripts_pdf) -> pd.DataFrame:
    return make_splits(transcripts_pdf)


def assert_pdf_equal(actual: pd.DataFrame, expected: pd.DataFrame, sort_cols, **kwargs):
    a = actual.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    e = expected.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(a[sorted(a.columns)], e[sorted(e.columns)], **kwargs)


def assert_feature_parity(actual: pd.DataFrame, expected: pd.DataFrame):
    """Feature rows against the oracle's, matched on (conv_id, ts): ids,
    integers and strings exactly, numeric features by allclose."""
    key = ["conv_id", "ts"]
    s = actual.sort_values(key, kind="mergesort").reset_index(drop=True)
    o = expected.sort_values(key, kind="mergesort").reset_index(drop=True)
    assert len(s) == len(o)
    assert list(s["conv_id"]) == list(o["conv_id"])
    assert (s["ts"].to_numpy("datetime64[us]") == o["ts"].to_numpy("datetime64[us]")).all()
    for c in NUMERIC_FEATURES:
        a = s[c].to_numpy(dtype=float)
        b = o[c].to_numpy(dtype=float)
        ok = np.isclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True)
        assert ok.all(), (
            f"{c}: {(~ok).sum()} mismatches, first at {int(np.argmax(~ok))}: "
            f"spark={a[~ok][:3]} oracle={b[~ok][:3]}"
        )
    for c in ("session_id", "turn_count", "role_transitions"):
        a = s[c].astype("Int64")
        b = o[c].astype("Int64")
        assert a.equals(b), f"{c} mismatch"
    for c in ("prev_role", "last_tool"):
        a = s[c].fillna("∅")
        b = o[c].fillna("∅")
        assert list(a) == list(b), f"{c} mismatch"


def count_spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted by job group in the status store."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count guard")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)  # the store is fed asynchronously
    return len(sc.statusTracker().getJobIdsForGroup(group))
