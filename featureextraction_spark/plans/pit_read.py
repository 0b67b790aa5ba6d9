"""Point-in-time multi-source feature read — the feature store's
`get_historical_features` path composed from the engine's primitives.

Given probe rows (entity, probe id, timestamp), attach features from any
number of sources with zero temporal leakage:

* **as-of sources** (append-only feature logs): backward sorted-merge
  via :func:`..operators.asof.asof_join` — the last value at-or-before
  the probe ts, per entity;
* **dimension sources** (SCD2 validity intervals): containment read via
  :func:`..operators.scd.scd2_lookup` — the version whose
  ``[valid_from, valid_to)`` contains the probe ts.

Each source contributes prefix-namespaced columns; probes with no
eligible row keep NULLs (the as-of contract). Every stage keys on the
same entity column, so at scale the chain is one hash exchange per
source over entity-partitioned data.

Reference analog: the reference's per-image metadata lookup + derived
state (``src/preparation/models.py:21-24``) is the single-source,
latest-only special case of this read.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..operators.scd import scd2_lookup


def point_in_time_read(
    probes: DataFrame,
    asof_sources: Sequence[tuple[str, DataFrame, Sequence[str]]] = (),
    dim_sources: Sequence[tuple[str, DataFrame]] = (),
    by: str = "user_id",
    on: str = "ts",
    tie: str = "event_id",
    probe_ts_us: str = "ts_us",
) -> DataFrame:
    """Attach every source's features at probe time.

    ``asof_sources``: (prefix, log_df, value_cols) — ``log_df`` shares
    the ``by``/``on``/``tie`` column names. ``dim_sources``: (prefix,
    scd2_dim) as built by :func:`..operators.scd.scd2_intervals`;
    contributes ``<prefix>state`` and ``<prefix>version``.
    """
    out = probes
    for prefix, log, value_cols in asof_sources:
        out = asof_join(
            out, log, on=on, by=by, tie=tie,
            value_cols=list(value_cols), prefix=prefix,
            matched_cols=False,
        )
    for prefix, dim in dim_sources:
        out = scd2_lookup(out, dim, by=by, probe_ts_us=probe_ts_us).select(
            *[F.col(c) for c in out.columns],
            F.col("dim_state").alias(f"{prefix}state"),
            F.col("dim_version").alias(f"{prefix}version"),
        )
    return out
