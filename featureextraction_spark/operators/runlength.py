"""Run-length encoding via gaps-and-islands (SURVEY.md W6 idiom).

Reference: the white-run walk in
``src/preparation/features/medianwidth.py:18-41`` — accumulate run lengths,
close a run at a value transition, drop the leading run. Relationally:
``run_id = cumsum(change_flag)`` then ``groupBy(run_id)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def run_length_encode(
    df: DataFrame,
    col: str,
    key: str = "conv_id",
    order: tuple[str, ...] = ("turn_idx",),
    extra_aggs: list | None = None,
) -> DataFrame:
    """One row per (key, run): run_id (1-based), value, run_length, span.

    ``run_id`` increments at every change of ``col`` (null-safe), giving
    contiguous islands along ``order``. ``extra_aggs`` appends caller
    aggregations (e.g. min/max of another column) to the per-run groupBy.
    """
    w = Window.partitionBy(key).orderBy(*order)
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    prev = F.lag(col).over(w)
    chg = F.when(prev.isNull() | ~F.col(col).eqNullSafe(prev), F.lit(1)).otherwise(F.lit(0))
    runs = df.withColumn("__chg", chg).withColumn("run_id", F.sum("__chg").over(cum))
    first_order = order[0]
    return runs.groupBy(key, "run_id").agg(
        F.first(col).alias("run_value"),
        F.count(F.lit(1)).cast("long").alias("run_length"),
        F.min(first_order).alias("run_start"),
        F.max(first_order).alias("run_end"),
        *(extra_aggs or []),
    )

