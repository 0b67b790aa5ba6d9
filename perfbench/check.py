"""Correctness gate, run outside the timed region.

* ``mismatch_rows``: output rows of a deterministic sample of
  conversations (one mega-conversation among them) that differ from the
  single-node oracles — floats by ``np.isclose``, everything else exactly;
  a row missing on either side counts too.
* ``leakage_rows``: output rows, over ALL of the output, whose turn count
  is not the number of turns with ``ts' <= ts``, or whose matched turn lies
  after the probe.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from featureextraction_spark.oracle import pandas_oracle as P
from featureextraction_spark.oracle.feature_oracle import point_in_time_features_oracle
from featureextraction_spark.plans.feature_pipeline import NUMERIC_FEATURES

import gen
from workloads import ASOF_VALUES, GAP_SECONDS, PROBES_PER_CONV

KEYS = ["conv_id", "ts"]
SAMPLE_ORDINARY = 4
DENSE_CHECK_TURNS = 200  # the naive oracle's cost per probe grows with the prefix


def sample_conv_ids(shape: gen.Shape, seed: int) -> list[str]:
    """Conversation 0 (a mega one when the shape has any) plus a few
    ordinary conversations picked by the seed."""
    picks = {
        shape.n_mega + (seed * 7919 + j * 104729) % shape.n_convs
        for j in range(SAMPLE_ORDINARY)
    }
    return [gen.conv_name(c) for c in sorted(picks | {0})]


def collect(df: DataFrame, conv_ids: list[str]) -> pd.DataFrame:
    return df.filter(F.col("conv_id").isin(conv_ids)).toPandas()


def mismatch_rows(actual: pd.DataFrame, expected: pd.DataFrame, keys=KEYS) -> int:
    """Rows of ``expected`` absent from ``actual`` or differing in any of
    its columns, plus rows of ``actual`` absent from ``expected``."""
    cols = [c for c in expected.columns if c not in keys]
    m = actual[keys + cols].merge(
        expected[keys + cols], on=keys, how="outer", suffixes=("_a", "_e"), indicator=True
    )
    bad = (m["_merge"] != "both").to_numpy()
    for c in cols:
        a, e = m[f"{c}_a"], m[f"{c}_e"]
        if c in NUMERIC_FEATURES:
            same = np.isclose(
                a.to_numpy(dtype=float), e.to_numpy(dtype=float),
                rtol=1e-9, atol=1e-9, equal_nan=True,
            )
        else:
            an, en = a.isna().to_numpy(), e.isna().to_numpy()
            eq = (a.astype(object) == e.astype(object)).to_numpy()
            same = (an & en) | (~an & ~en & eq)
        bad |= ~same
    return int(bad.sum())


def leakage_rows(
    out: DataFrame, transcripts: DataFrame, count_col: str, matched_ts: str | None = None
) -> int:
    """Output rows whose ``count_col`` differs from the number of turns at
    or before the row's ts, or whose ``matched_ts`` is after it."""
    w = Window.partitionBy("conv_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    marks = (
        transcripts.groupBy("conv_id", "ts")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "conv_id", "ts",
            F.sum("n").over(w).alias("__seen"),
            F.lit(0).alias("__o"),
            F.lit(None).cast("long").alias("__count"),
            F.lit(None).cast("timestamp").alias("__matched"),
        )
    )
    rows = out.select(
        "conv_id", "ts",
        F.lit(None).cast("long").alias("__seen"),
        F.lit(1).alias("__o"),
        F.col(count_col).cast("long").alias("__count"),
        (F.col(matched_ts) if matched_ts else F.lit(None)).cast("timestamp").alias("__matched"),
    )
    w2 = (
        Window.partitionBy("conv_id")
        .orderBy("ts", "__o")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seen = F.coalesce(F.last("__seen", ignorenulls=True).over(w2), F.lit(0))
    checked = marks.unionByName(rows).withColumn("__expect", seen).filter(F.col("__o") == 1)
    bad = ~F.col("__count").eqNullSafe(F.col("__expect")) | (
        F.col("__matched").isNotNull() & (F.col("__matched") > F.col("ts"))
    )
    return checked.filter(bad).count()


def sparse_probes(sample: pd.DataFrame) -> pd.DataFrame:
    """The last ``PROBES_PER_CONV`` turns of each conversation, in pandas."""
    s = sample.sort_values(["conv_id", "ts", "turn_idx"], ascending=[True, False, False])
    return s.groupby("conv_id").head(PROBES_PER_CONV)[KEYS].drop_duplicates()


def dense_probes(sample: pd.DataFrame) -> pd.DataFrame:
    """The first ``DENSE_CHECK_TURNS`` turn times of each conversation."""
    s = sample.sort_values(["conv_id", "ts", "turn_idx"])
    return s.groupby("conv_id").head(DENSE_CHECK_TURNS)[KEYS].drop_duplicates()


def features_mismatch(
    out: DataFrame, sample: pd.DataFrame, probes: pd.DataFrame, every_row: bool = True
) -> int:
    """The engine's feature rows of the sampled conversations against the
    feature oracle at ``probes``; unless ``every_row``, only the engine's
    rows at ``probes`` are compared."""
    expected = point_in_time_features_oracle(sample, probes, GAP_SECONDS)
    actual = collect(out, sorted(sample["conv_id"].unique()))
    if not every_row:
        actual = actual.merge(probes[KEYS], on=KEYS)
    return mismatch_rows(actual, expected)


def asof_expected(sample: pd.DataFrame) -> pd.DataFrame:
    """The as-of chain plus the store read, through the pandas twins."""
    order = ("ts", "turn_idx")
    enriched = P.lag_lead(
        P.forward_fill(P.sessionize(sample, gap_seconds=GAP_SECONDS), ["tool"], order=order),
        ["role"], order=order,
    )
    probes = sample.loc[sample["role"] == "user", KEYS].drop_duplicates().reset_index(drop=True)
    data = enriched.rename(columns={"turn_idx": "data_turn_idx"})[
        ["conv_id", "data_turn_idx", "ts", *ASOF_VALUES]
    ]
    a = P.asof_join(probes, data, tie="data_turn_idx", value_cols=ASOF_VALUES)

    log = P.forward_fill(P.sessionize(sample, gap_seconds=GAP_SECONDS), ["tool"], order=order)
    log["turn_count"] = log.groupby("conv_id", sort=False).cumcount() + 1
    fs = P.asof_join(
        a[KEYS], log[["conv_id", "ts", "turn_count", "session_id", "last_tool"]],
        tie="turn_count", value_cols=["session_id", "last_tool"],
    )
    a["fs_turn_count"] = fs["matched_turn_idx"]
    a["fs_session_id"] = fs["session_id"]
    a["fs_last_tool"] = fs["last_tool"]
    return a
