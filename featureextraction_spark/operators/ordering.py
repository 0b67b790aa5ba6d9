"""Stable ordering + lag/lead (SURVEY.md §2.5 W11, §2.6).

The reference never names lag/lead but uses the idiom implicitly — the
``previous`` variable in its transition counter
(``src/preparation/utils.py:64-76``) and the ``last_contour_y``
carry-forward (``src/preparation/features/contour.py:74-92``). Here they
are first-class, leakage-safe window transforms over
``(partition key, order key)``.

Scale notes: a window over ``partitionBy(conv_id)`` shuffles once on the
entity key — the same single shuffle the whole feature pipeline shares.
``stable_order`` uses ``repartitionByRange + sortWithinPartitions`` so a
downstream writer produces deterministic file contents without a global
sort-merge on one reducer.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def turn_window(by: str | Sequence[str] = "conv_id", order: str | Sequence[str] = "turn_idx"):
    by = [by] if isinstance(by, str) else list(by)
    order = [order] if isinstance(order, str) else list(order)
    return Window.partitionBy(*by).orderBy(*order)


def with_lag_lead(
    df: DataFrame,
    cols: Sequence[str],
    by: str = "conv_id",
    order: str | Sequence[str] = "turn_idx",
    offsets: Sequence[int] = (1,),
) -> DataFrame:
    """Add ``prev_<col>[_k]`` / ``next_<col>[_k]`` for each col and offset.

    NOTE: ``next_*`` (lead) columns read forward in time — they are
    training-label columns and are excluded from point-in-time feature
    vectors by the pipeline (FIXTURES.md §3).
    """
    w = turn_window(by, order)
    out = df
    for c in cols:
        for k in offsets:
            suffix = "" if k == 1 else f"_{k}"
            out = out.withColumn(f"prev_{c}{suffix}", F.lag(c, k).over(w))
            out = out.withColumn(f"next_{c}{suffix}", F.lead(c, k).over(w))
    return out


def stable_order(
    df: DataFrame,
    by: str = "conv_id",
    order: str | Sequence[str] = "turn_idx",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global ordering without a single-reducer sort.

    ``repartitionByRange`` gives totally-ordered partition ranges;
    ``sortWithinPartitions`` orders inside each — together a distributed
    total order, the contract behind the per-turn ``text`` byte-equality
    check (BASELINE.json input_hint).
    """
    order = [order] if isinstance(order, str) else list(order)
    cols = [by, *order]
    if num_partitions:
        ranged = df.repartitionByRange(num_partitions, *cols)
    else:
        ranged = df.repartitionByRange(*cols)
    return ranged.sortWithinPartitions(*cols)

