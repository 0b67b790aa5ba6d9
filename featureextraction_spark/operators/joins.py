"""Relational joins from the reference, Spark-first (SURVEY.md §2.3).

- membership join with default (J2): the categoriser's split lookup
  (``src/preparation/categoriser.py:12-17, 56-58``) — broadcast left join +
  coalesce('unknown'); never a driver-side dict.
- keyed column merge (J3): the reference merges new feature columns BY ROW
  POSITION (``src/preparation/writer.py:61-77``; its own TODO at
  ``writer.py:47`` admits it should key on filename). Spark has no stable
  row order — the engine joins on the row key, fixing the defect.
- all-pairs theta join (J4): ``(i, j) for j > i``
  (``src/training/statistics.py:17-25``) as a self-join with an ordering
  predicate. O(n²) — keep off hot paths; block-partitioned for scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def membership_join(
    df: DataFrame,
    dim: DataFrame,
    key: str = "conv_id",
    label: str = "type",
    default: str = "unknown",
) -> DataFrame:
    """Left-join a small membership dimension; missing keys get ``default``."""
    return df.join(F.broadcast(dim), key, "left").withColumn(
        label, F.coalesce(F.col(label), F.lit(default))
    )


def merge_feature_columns(
    base: DataFrame, new: DataFrame, keys: Sequence[str] = ("conv_id", "ts")
) -> DataFrame:
    """Adopt columns of ``new`` not already in ``base``, keyed — not positional."""
    keys = list(keys)
    fresh = [c for c in new.columns if c not in base.columns]
    return base.join(new.select(*keys, *fresh), keys, "left")


def incremental_join_delta(
    left_old: DataFrame,
    left_delta: DataFrame,
    right_old: DataFrame,
    right_delta: DataFrame,
    on: Sequence[str] | str,
) -> DataFrame:
    """Incremental view maintenance for an inner equi-join over
    INSERT-ONLY deltas: the rows that must be ADDED to a stored
    ``left_old ⋈ right_old`` view when batches ``left_delta`` /
    ``right_delta`` arrive —

        Δview = ΔL ⋈ R₀  ∪  L₀ ⋈ ΔR  ∪  ΔL ⋈ ΔR

    (the classic delta-rule factoring; each joined pair involving a new
    row appears in exactly one term, so the union needs no dedup). The
    100-TB point: the stored view is NEVER re-joined — the day's
    maintenance cost is two delta-sized joins against the base tables
    plus a delta×delta join, not |L|·|R| work over again.

    Scale: all three terms are key equi-joins (shuffle on the key, or
    broadcast when a delta is small — AQE picks this up at runtime from
    the delta's actual size; deltas are the small side by construction).
    Correct for bag semantics; updates/deletes need the signed-count
    extension (not modeled here — pair with the CDC compactor to reduce
    upserts to insert-only snapshots first).
    """
    keys = [on] if isinstance(on, str) else list(on)
    return (
        left_delta.join(right_old, keys)
        .unionByName(left_old.join(right_delta, keys))
        .unionByName(left_delta.join(right_delta, keys))
    )
