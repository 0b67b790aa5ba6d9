"""Full point-in-time pipeline: Spark engine vs independent pandas oracle
(naive reference kernels) — the BASELINE.json allclose correctness gate —
plus the zero-temporal-leakage property on the Spark output itself, and
the feature stage's bucket-count derivation."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from featureextraction_spark.datagen import to_spark
from featureextraction_spark.oracle.feature_oracle import point_in_time_features_oracle
from featureextraction_spark.plans.feature_pipeline import (
    BUCKET_BYTES,
    MAX_BUCKETS,
    NUMERIC_FEATURES,
    STATE_COLS,
    bucket_count,
    point_in_time_features,
    turn_state,
)

from conftest import assert_feature_parity


def test_pipeline_matches_oracle(spark, transcripts, transcripts_pdf, probes, probes_pdf):
    got = point_in_time_features(transcripts, probes).toPandas()
    exp = point_in_time_features_oracle(transcripts_pdf, probes_pdf)
    assert_feature_parity(got, exp)


def test_pipeline_null_text_counts_as_empty(spark, transcripts_pdf, probes, probes_pdf):
    """The schema allows a null ``text``. It is a turn with no characters
    and no tokens, as ``""`` is, so the probes after it keep their values
    instead of reading the null as NaN."""
    pdf = transcripts_pdf.copy()
    pdf.loc[pdf.index % 7 == 3, "text"] = None
    got = point_in_time_features(to_spark(spark, pdf), probes).toPandas()
    assert_feature_parity(got, point_in_time_features_oracle(pdf, probes_pdf))
    emptied = pdf.fillna({"text": ""})
    assert_feature_parity(got, point_in_time_features_oracle(emptied, probes_pdf))


def test_pipeline_zero_temporal_leakage_on_spark_output(
    spark, transcripts, transcripts_pdf, probes_pdf
):
    """Recompute the Spark pipeline on the table truncated to ts' <= probe ts
    for a handful of probes — identical vectors ⇒ nothing read the future."""
    sample = (
        probes_pdf.sort_values(["conv_id", "ts"])
        .groupby("conv_id")
        .nth(2)
        .reset_index()[["conv_id", "ts"]]
        .head(4)
    )
    sample_sdf = spark.createDataFrame(sample, schema="conv_id string, ts timestamp")
    full = point_in_time_features(transcripts, sample_sdf).toPandas()
    for row in sample.itertuples(index=False):
        trunc = transcripts.filter(
            (F.col("conv_id") != row.conv_id) | (F.col("ts") <= F.lit(row.ts))
        )
        one_probe = spark.createDataFrame(
            pd.DataFrame([row], columns=["conv_id", "ts"]),
            schema="conv_id string, ts timestamp",
        )
        got = point_in_time_features(trunc, one_probe).toPandas()
        ref = full[(full["conv_id"] == row.conv_id) & (full["ts"] == row.ts)]
        assert len(got) == 1 and len(ref) == 1
        for c in NUMERIC_FEATURES:
            a, b = float(got[c].iloc[0]), float(ref[c].iloc[0])
            assert (np.isnan(a) and np.isnan(b)) or a == b, c


def test_pipeline_probe_before_first_turn(spark, transcripts, probes):
    got = point_in_time_features(transcripts, probes).toPandas()
    pre = got[got["turn_count"] == 0]
    assert len(pre) > 0
    assert pre["session_id"].isna().all()
    assert pre[NUMERIC_FEATURES].isna().all().all()


def test_bucket_count_small_parquet_state_gets_cores(spark, transcripts, tmp_path):
    path = str(tmp_path / "state.parquet")
    turn_state(transcripts).write.parquet(path)
    state = spark.read.parquet(path).select(*STATE_COLS)
    assert bucket_count(state) == spark.sparkContext.defaultParallelism


def test_bucket_count_unknown_size_gets_max(spark, transcripts):
    """An RDD-backed frame has no size estimate (Long.MaxValue)."""
    state = turn_state(transcripts).select(*STATE_COLS)
    from_rdd = spark.createDataFrame(state.rdd, state.schema)
    assert bucket_count(from_rdd) == MAX_BUCKETS


def test_bucket_count_grows_past_cores_with_size(spark):
    cores = spark.sparkContext.defaultParallelism
    # Range estimates 8 bytes per id row without running a job
    big = spark.range(BUCKET_BYTES * cores)
    assert cores < bucket_count(big) <= MAX_BUCKETS
