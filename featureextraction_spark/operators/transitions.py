"""Running transition counts along an ordered sequence (SURVEY.md A7).

Reference: ``count_transitions`` walks a pixel row comparing each value to
the previous and counts changes (``src/preparation/utils.py:64-76``).
Transposed: at every turn, the number of value switches so far in the
conversation (rows at or before the turn only), expressed as ``lag`` + a
running conditional sum, fully JVM-side (whole-stage codegen, no UDF).
``plans.feature_pipeline`` builds the turn state's ``role_transitions``
with it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _change_flag(col: str, w) -> Column:
    prev = F.lag(col).over(w)
    # null-safe inequality: a transition is a change between two observed
    # values; the first row (prev is null) is not a transition — same as the
    # reference seeding `previous = sequence[0]` (utils.py:66-69).
    return F.when(prev.isNotNull() & ~F.col(col).eqNullSafe(prev), F.lit(1)).otherwise(F.lit(0))


def running_transitions(
    df: DataFrame,
    col: str,
    key: str = "conv_id",
    order: tuple[str, ...] = ("turn_idx",),
    out: str | None = None,
) -> DataFrame:
    """Running transition count at each row (point-in-time safe: the count
    at row i uses rows <= i only)."""
    out = out or f"{col}_transitions"
    w = Window.partitionBy(key).orderBy(*order)
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("__chg", _change_flag(col, w)).withColumn(
        out, F.sum("__chg").over(cum).cast("long")
    ).drop("__chg")
