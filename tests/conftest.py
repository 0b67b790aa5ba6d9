from __future__ import annotations

import uuid

import pandas as pd
import pytest

from featureextraction_spark.datagen import (
    make_query_points,
    make_splits,
    make_transcripts,
    to_spark,
)
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
