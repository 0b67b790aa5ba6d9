"""EP2 — categorisation plan: feature store → derive key → split join → sink.

The reference's ``python -m src.preparation.categoriser``
(``src/preparation/categoriser.py:49-60``) reads the feature CSV, derives
``line_id`` by stripping the ``.png`` suffix (P5, ``categoriser.py:52-54``),
loads four newline-delimited split lists (S8, ``categoriser.py:20-46``),
maps membership to a ``type`` label with an ``"unknown"`` default (J2/P6,
``categoriser.py:12-17, 56-58``), and writes the enriched frame (S6).

Spark shape: scan → ``regexp_replace`` projection → broadcast left join +
coalesce → append. The split dimension is tiny by construction (one row
per entity) — always broadcast; the plan is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from featureextraction_spark.operators.joins import membership_join


def derive_key(df: DataFrame, src: str, out: str, strip_suffix: str) -> DataFrame:
    """P5: derive the join key by stripping a literal suffix (``.png``)."""
    pat = strip_suffix.replace(".", r"\.") + "$"
    return df.withColumn(out, F.regexp_replace(F.col(src), pat, ""))


def categorise(
    features: DataFrame,
    splits: DataFrame,
    key: str = "conv_id",
    label: str = "type",
    default: str = "unknown",
) -> DataFrame:
    """J2 + P6: label every feature row with its split membership."""
    return membership_join(features, splits, key=key, label=label, default=default)


def split_filter(df: DataFrame, split: str, label: str = "type") -> DataFrame:
    """P3: the training loader's split filter (``src/training/loader.py:18-21``)."""
    return df.filter(F.col(label) == split)


def drop_and_cast(
    df: DataFrame,
    drop_cols: list[str],
    feature_cols: list[str] | None = None,
    dtype: str = "float",
) -> DataFrame:
    """P4: drop meta/blacklisted columns, cast features to float32
    (``src/training/loader.py:26-42``). Explicit names, never positions."""
    kept = [c for c in df.columns if c not in set(drop_cols)]
    if feature_cols is None:
        feature_cols = [c for (c, t) in df.dtypes if c in kept and t in ("double", "float")]
    return df.select(
        *[
            F.col(c).cast(dtype).alias(c) if c in set(feature_cols) else F.col(c)
            for c in kept
        ]
    )
