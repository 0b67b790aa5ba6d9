"""As-of / backward merge join (SURVEY.md J6 — the graft's core operator).

For probe rows ``(conv_id, ts_q)`` find the latest data row with
``ts <= ts_q`` (inclusive backward; ties on ts broken by the highest
``turn_idx``), per conversation. Backward-only by construction ⇒ zero
temporal leakage.

The reference has no as-of join; its closest analogs are the memoized
"latest derived state" (``src/preparation/models.py:21-24``) and the
``contours[-1] + sign(...)`` carry-forward
(``src/preparation/features/contour.py:87``).

Two physical strategies, one logical semantics (tested equal):

- ``asof_join``        — ``forward_fill`` of the data state over the union
                         of data and probe rows. One shuffle on the entity
                         key; sorted within partitions ⇒ physically a
                         sorted merge. Default.
- ``asof_join_salted`` — ``forward_fill_salted`` over the same union:
                         filled per (key, time-bucket), with the shared
                         cross-bucket carry table, so no task ever holds a
                         whole mega-conversation. The north-rule skew path.

The data row's matched values travel inside ONE struct so that a data row
whose value column is genuinely NULL is still "the match" (last-ignorenulls
per-column would wrongly skip it to an older row).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from featureextraction_spark.operators.backfill import forward_fill, forward_fill_salted

_MATCHED_TS = "__m_ts"
_MATCHED_TIE = "__m_tie"


def _state_struct(on: str, tie: str, value_cols: Sequence[str]):
    return F.struct(
        F.col(on).alias(_MATCHED_TS),
        F.col(tie).alias(_MATCHED_TIE),
        *[F.col(c).alias(c) for c in value_cols],
    )


def _unpack(result: DataFrame, probe_cols: Sequence[str], value_cols: Sequence[str],
            prefix: str, matched_cols: bool) -> DataFrame:
    sel = [F.col(c) for c in probe_cols]
    if matched_cols:
        sel.append(F.col("__state")[_MATCHED_TS].alias(f"{prefix}matched_ts"))
        sel.append(F.col("__state")[_MATCHED_TIE].alias(f"{prefix}matched_turn_idx"))
    sel += [F.col("__state")[c].alias(f"{prefix}{c}") for c in value_cols]
    return result.select(*sel)


def _tagged_union(probes: DataFrame, data: DataFrame, on: str, by: str, tie: str,
                  value_cols: Sequence[str], allow_exact_matches: bool):
    """Data rows carrying ``__state`` unioned with state-less probe rows.

    ``__tag`` orders data rows BEFORE probes at equal ts when exact matches
    are allowed (the probe sees them), AFTER when not. Returns the union
    and the probes' tag.
    """
    data_tag, probe_tag = (0, 1) if allow_exact_matches else (1, 0)
    d = data.select(
        F.col(by),
        F.col(on),
        F.col(tie).cast("long").alias("__tie"),
        _state_struct(on, tie, value_cols).alias("__state"),
        F.lit(data_tag).alias("__tag"),
    )
    p = probes.withColumn("__tag", F.lit(probe_tag))
    return d.unionByName(p, allowMissingColumns=True), probe_tag


def asof_join(
    probes: DataFrame,
    data: DataFrame,
    on: str = "ts",
    by: str = "conv_id",
    tie: str = "turn_idx",
    value_cols: Sequence[str] | None = None,
    prefix: str = "",
    allow_exact_matches: bool = True,
    matched_cols: bool = True,
) -> DataFrame:
    """Backward as-of join: one probe row out per probe row in.

    Probes with no data row at-or-before their ts get NULLs.
    ``probes`` must share the ``by``/``on`` column names with ``data`` and
    must not already contain ``prefix``-ed output names.
    """
    value_cols = list(value_cols) if value_cols is not None else [
        c for c in data.columns if c not in (by, on, tie)
    ]
    u, probe_tag = _tagged_union(probes, data, on, by, tie, value_cols, allow_exact_matches)
    # ascending order puts a NULL tie (every probe row) first
    filled = forward_fill(u, ["__state"], key=by, order=(on, "__tag", "__tie"), prefix="")
    out_rows = filled.filter(F.col("__tag") == probe_tag)
    return _unpack(out_rows, probes.columns, value_cols, prefix, matched_cols)


def asof_join_salted(
    probes: DataFrame,
    data: DataFrame,
    on: str = "ts",
    by: str = "conv_id",
    tie: str = "turn_idx",
    value_cols: Sequence[str] | None = None,
    prefix: str = "",
    allow_exact_matches: bool = True,
    matched_cols: bool = True,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Skew-safe as-of join: ``forward_fill_salted`` of ``__state`` over
    the same tagged union as ``asof_join``, ordered by (ts, tag, tie).

    A mega-conversation spanning B time buckets fills B-ways; the fill's
    cross-bucket carry brings each bucket the last data state of the
    buckets before it.
    """
    value_cols = list(value_cols) if value_cols is not None else [
        c for c in data.columns if c not in (by, on, tie)
    ]
    u, probe_tag = _tagged_union(probes, data, on, by, tie, value_cols, allow_exact_matches)
    # a struct sorts field by field, a NULL field first: as (__tag, __tie) do
    u = u.withColumn("__ord", F.struct("__tag", "__tie"))
    filled = forward_fill_salted(
        u, ["__state"], key=by, ts=on, tie="__ord", prefix="", bucket_seconds=bucket_seconds
    )
    out_rows = filled.filter(F.col("__tag") == probe_tag)
    return _unpack(out_rows, probes.columns, value_cols, prefix, matched_cols)
